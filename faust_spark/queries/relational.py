"""Relational proof queries (TPC-H-ish): the batch surface faust lacks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from faust_spark.queries import _q, _t


@_q(
    "q1_pricing",
    """
    WITH li AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS DECIMAL(12,2)) AS qty,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
             CAST(l_discount AS DECIMAL(4,2)) AS disc,
             CAST(l_tax AS DECIMAL(4,2)) AS tax
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty) AS DOUBLE) AS sum_qty,
           CAST(SUM(price) AS DOUBLE) AS sum_base_price,
           CAST(SUM(price * (1 - disc)) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(price * (1 - disc) * (1 + tax)) AS DOUBLE) AS sum_charge,
           CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(price) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(disc) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM li
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary — full-scan aggregate.

    Scale: map-side partial aggregation over a 4-group key means the
    shuffle carries ~#partitions × 4 rows regardless of input size; the
    scan is the whole cost and prunes to 7 of 11 columns.
    """
    li = _t(spark, sf_dir, "lineitem")
    # exact decimal arithmetic from per-column casts: the sources carry at
    # most 2 decimal digits, so double→decimal(.,2) is unambiguous and the
    # products are computed exactly in both engines (no double rounding).
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    sum_qty = F.sum(qty)
    sum_price = F.sum(price)
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.cast("double").alias("sum_qty"),
            sum_price.cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            (sum_qty.cast("double") / cnt).alias("avg_qty"),
            (sum_price.cast("double") / cnt).alias("avg_price"),
            (F.sum(disc).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@_q(
    "q3_shipping",
    """
    SELECT l.l_orderkey AS o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: selective dim filter → broadcast join →
    agg → top-k. Customer/orders prune before the lineitem join; the final
    top-10 is TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("o_orderkey"),
            "o_orderdate",
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@_q(
    "q5_local_volume",
    """
    SELECT n.n_name, r.r_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style star join: fact → snowflake dims, all broadcast.

    (Simplified vs TPC-H: no supplier-nation equality — the fixture's
    supplier table is vestigial at this scale.)
    """
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_q(
    "q6_forecast",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter-aggregate; every predicate pushes to parquet."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@_q(
    "word_count",
    """
    SELECT w AS word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
    GROUP BY 1
    """,
)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical reference example (examples/word_count.py:16-32):
    flat-map posts → words (1→N yield), repartition by word, counter
    table. Spark: explode + hash agg — the explode is a narrow op; the
    shuffle carries (word, partial_count)."""
    from faust_spark import App

    app = App("wc", spark=spark)
    docs = _t(spark, sf_dir, "documents")
    words = app.stream(
        docs.select(F.explode(F.split("text", " ")).alias("word"))
    ).group_by("word")
    return app.Table("word_counts").count(words, alias="cnt")


@_q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: EXISTS → left_semi join; the probe side prunes to one
    quarter of orders before the join."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@_q(
    "q7_nation_volume",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY 1, 2
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-style cross-nation volume: fact joins two role-playing
    copies of the nation dim through supplier and customer. All dims
    broadcast; the fact scans once."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@_q(
    "q10_returns",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue by customer; broadcast dims, agg,
    top-20."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@_q(
    "q14_promo",
    """
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — conditional aggregation over a
    broadcast part join."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@_q(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders — aggregate-then-join (the agg output
    is small, so it broadcasts into orders/customer)."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey", F.col("q").cast("double").alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@_q(
    "q8_market_share",
    """
    WITH rev AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM rev GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (adapted to fixture columns — no p_type filter): national
    market share inside a region's customer market by year. Fact table
    joins all five dims broadcast; one agg shuffle on year."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nc = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    nat = F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(nat).cast("double") / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@_q(
    "q13_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ) t GROUP BY 1
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (adapted — no o_comment filter in fixtures): customer
    order-count distribution INCLUDING zero-order customers (the left
    join is the point: inner join silently drops them)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@_q(
    "q17_small_quantity",
    """
    WITH brand AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#13'
    ),
    thresh AS (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                    / COUNT(*)) AS q_thresh
      FROM brand GROUP BY 1
    )
    SELECT CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM brand b JOIN thresh t ON b.l_partkey = t.l_partkey
    WHERE b.l_quantity < t.q_thresh
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (adapted — no p_container in fixtures): revenue lost to
    small-quantity orders. The correlated subquery decorrelates into a
    per-part aggregate joined back — both sides share one brand-filtered
    scan; threshold math in deterministic double."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    ).select("p_partkey")
    brand = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    thresh = brand.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            )
        ).alias("q_thresh")
    )
    return (
        brand.join(F.broadcast(thresh.withColumnRenamed("l_partkey", "tk")),
                   F.col("l_partkey") == F.col("tk"))
        .filter(F.col("l_quantity") < F.col("q_thresh"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@_q(
    "q19_bracket_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted — no p_container/l_shipmode in fixtures):
    disjunctive bracket predicates over a broadcast part join. Catalyst
    extracts the common l_quantity bounds; the OR stays a single scan."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    def bracket(brand: str, smax: int, qlo: int, qhi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, smax)
            & F.col("l_quantity").between(qlo, qhi)
        )

    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            bracket("Brand#13", 15, 1, 11)
            | bracket("Brand#20", 25, 10, 20)
            | bracket("Brand#25", 35, 20, 30)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_q(
    "q22_dormant_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY 1
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted — nation grouping instead of phone prefix, and
    'dormant' = no order since 2000 because every fixture customer has
    SOME order): high-balance customers gone quiet. Scalar average
    broadcast as a one-row cross join (no driver collect); NOT EXISTS as
    an anti-join against the date-filtered order scan."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@_q(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l.l_partkey AS p_partkey, l.l_suppkey AS s_suppkey,
             min(l.l_extendedprice / l.l_quantity) AS unit_cost
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY 1, 2
    )
    SELECT p_partkey, s_suppkey FROM (
      SELECT p_partkey, s_suppkey,
             unit_cost, min(unit_cost) OVER (PARTITION BY p_partkey) AS best
      FROM cost
    ) t WHERE unit_cost = best
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted — no partsupp fixture, so 'supply cost' is the
    observed min unit price l_extendedprice/l_quantity per
    part×supplier): region-filtered cheapest supplier(s) per part. The
    Q2 correlated-min subquery decorrelates to an unordered
    partition-min window — ONE shuffle on p_partkey, no self-join and
    no second scan of the aggregate (vs the agg+join rewrite which
    evaluates the CTE twice). Unit price is IEEE double division —
    bit-identical on both engines, so the min-equality filter is
    portable."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select(
        "r_regionkey"
    )
    eu_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    cost = (
        li.join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("out_suppkey"),
        )
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    w = W.partitionBy("p_partkey")
    return (
        cost.withColumn("best", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("best"))
        .select("p_partkey", F.col("out_suppkey").alias("s_suppkey"))
    )


@_q(
    "q9_nation_profit",
    """
    SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           - CAST(SUM(CAST(p.p_retailprice AS DECIMAL(12,2))
                      * CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / 2
             AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted — no partsupp, so supply cost is proxied as
    half the part's retail price): profit by supplier nation and order
    year. Fact scan joins part/supplier/nation broadcast; the only big
    join is lineitem-orders on orderkey; one agg shuffle on
    (nation, year). Revenue and cost are summed as exact decimals
    SEPARATELY, cast to double, then subtracted — decimal-decimal
    subtraction with mixed scales has engine-specific precision rules,
    double subtraction of two exact sums does not."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount", "l_quantity",
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    cost = F.col("p_retailprice").cast("decimal(12,2)") * F.col(
        "l_quantity"
    ).cast("decimal(12,2)")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(rev).cast("double")
                - F.sum(cost).cast("double") / F.lit(2)
            ).alias("profit")
        )
    )


@_q(
    "q11_important_parts",
    """
    WITH pv AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS value_dec
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY 1
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM pv
    WHERE value_dec * 1000 > (SELECT SUM(value_dec) FROM pv)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted — part value = lineitem revenue from one
    nation's suppliers instead of partsupp stock value): parts worth
    more than 0.1% of the total. The decorrelated scalar subquery is a
    one-row aggregate broadcast back as a cross join — no driver
    collect, no second evaluation of the expensive scan (the per-part
    aggregate is computed once; the total re-aggregates the SMALL
    per-part result, not the fact table). Threshold compares
    value*1000 > total in exact decimals — no float literal, no
    engine-specific decimal-scale rules."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    ).select("n_nationkey")
    supp = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    pv = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias(
                "value_dec"
            )
        )
    )
    total = pv.agg(F.sum("value_dec").alias("total_dec"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") * F.lit(1000) > F.col("total_dec"))
        .select(
            "l_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
    )


@_q(
    "q12_late_shipping",
    """
    SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) > 60
                THEN 'late' ELSE 'ontime' END AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q12_late_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted — no l_shipmode/commitdate/receiptdate in the
    fixture, so 'late' = shipped >60 days after the order date):
    priority mix of late vs on-time lines. One big equi-join on
    orderkey, then a two-group aggregate — the conditional counts are
    map-side partial aggs; only 2 groups ever cross the wire."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.datediff(
        F.to_date("l_shipdate"), F.to_date("o_orderdate")
    ) > 60
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.when(late, "late").otherwise("ontime").alias("ship_class")
        )
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


@_q(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l.l_suppkey AS s_key,
             SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS total_rev
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM rev r JOIN supplier s ON r.s_key = s.s_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top revenue supplier(s) for a quarter. The view's MAX
    is a one-row aggregate over the (tiny) per-supplier rollup,
    broadcast back as a cross join — equality on exact decimal sums,
    so ties are found portably (the spec's correlated = MAX(view)
    semantics) with no global sort and no second fact-table scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy(F.col("l_suppkey").alias("s_key")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        ).alias("total_rev")
    )
    best = rev.agg(F.max("total_rev").alias("best_rev"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev") == F.col("best_rev"))
        .join(F.broadcast(s), F.col("s_key") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@_q(
    "q16_supplier_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted — the part-supplier relation is DISTINCT
    lineitem pairs since there's no partsupp; the excluded-supplier
    subquery filters on negative balance instead of comment text):
    supplier diversity per part attribute. NOT IN over a non-null key
    column rewrites to an anti-join (broadcast — the exclusion list is
    tiny); distinct pairs then one agg shuffle."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pairs = (
        li.distinct()
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt")
    )


@_q(
    "q20_excess_shippers",
    """
    SELECT s.s_name FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name LIKE 'NATION_1%'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'red %'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
        HAVING SUM(l.l_quantity) > 50
      )
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted — 'excess stock' = shipped over 50 units of
    red parts in 1996, since there's no partsupp availqty): the
    IN-subquery chain part-filter -> per-supplier rollup -> HAVING ->
    semi-join into the supplier dim. Quantities are integral doubles,
    so the HAVING sum is exact on both engines. The semi-join side is
    aggregated BEFORE joining — the dim table never meets the fact
    scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("red %")
    ).select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").like("NATION_1%")
    ).select("n_nationkey")
    qualifying = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name")
    )


@_q(
    "q21_waiting_supplier",
    """
    WITH pairs AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN CAST(l.l_shipdate AS DATE) >
                           CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2
    ),
    per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_supp,
             CAST(SUM(late) AS BIGINT) AS n_late
      FROM pairs GROUP BY 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM pairs pr
    JOIN per_order po ON pr.l_orderkey = po.l_orderkey
    JOIN supplier s ON pr.l_suppkey = s.s_suppkey
    WHERE pr.late = 1 AND po.n_supp > 1 AND po.n_late = 1
    GROUP BY 1
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted — 'kept waiting' = shipped >60 days after the
    order date, no receipt/commit dates in the fixture): suppliers who
    were the SOLE late supplier on a multi-supplier finished order.
    The spec's EXISTS (another supplier) + NOT EXISTS (another late
    supplier) correlated pair decorrelates to one per-(order,supplier)
    rollup and one per-order rollup, joined back on orderkey — the
    second and third scans of lineitem that a literal translation
    would do are gone, and both rollups reuse the same orderkey
    partitioning (no extra shuffle for the self-join)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = (
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 60
    ).cast("int")
    pairs = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    per_order = pairs.groupBy(F.col("l_orderkey").alias("po_key")).agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    return (
        pairs.filter(F.col("late") == 1)
        .join(per_order, F.col("l_orderkey") == F.col("po_key"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_q(
    "window_functions",
    """
    SELECT event_id, user_id, value,
           ROW_NUMBER() OVER w AS rn,
           CAST(LAG(value) OVER w AS DOUBLE) AS prev_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL OVER-clause analytics (absent in the reference, SURVEY §2.5
    'not present'): row_number / lag / running sum per key."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(W.unboundedPreceding, 0)
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.lag("value").over(w).cast("double").alias("prev_value"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(wr)
        .cast("double")
        .alias("running_total"),
    )


@_q(
    "rolling_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL '90 days' PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_90d
    FROM orders
    WHERE o_custkey < 100
    """,
)
def rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE rolling aggregate (90-day revenue per customer) — the
    OVER/RANGE surface the reference lacks. One shuffle per key, ordered
    scan within partition."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_90d"),
    )


_HEX_VAL = (
    "((instr('0123456789abcdef', substr(h, {i}, 1)) - 1) * {mult})"
)


def _duck_hash01(expr: str, chars: int = 8) -> str:
    """DuckDB fragment: md5-derived uniform [0,1) matching sampling._hash01."""
    terms = " + ".join(
        _HEX_VAL.format(i=i + 1, mult=16 ** (chars - 1 - i))
        for i in range(chars)
    )
    return (
        f"(SELECT ({terms}) / {float(16 ** chars)} "
        f"FROM (SELECT md5({expr}) AS h) __h)"
    )


@_q(
    "sample_10pct",
    f"""
    SELECT event_id, user_id, event_type FROM events
    WHERE {_duck_hash01("CAST(event_id AS VARCHAR)")} < 0.1
    """,
)
def sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by content hash (operators/sampling.py):
    identical rows every run and on every engine — the reproducibility
    contract a training-data pipeline needs (vs RNG-based df.sample)."""
    from faust_spark.operators.sampling import hash_sample

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return hash_sample(e, "event_id", 0.1, hex_chars=8)


@_q(
    "sample_3_per_user",
    """
    SELECT event_id, user_id FROM (
      SELECT event_id, user_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
             ) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def sample_3_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-key sample (hash-ordered 'reservoir'): the
    per-domain cap used in corpus curation, reproducible across engines."""
    from faust_spark.operators.sampling import top_k_per_key

    e = _t(spark, sf_dir, "events").select("event_id", "user_id")
    return top_k_per_key(e, key="user_id", row_key="event_id", k=3)


@_q(
    "sample_mixture_weights",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_duck_hash01("CAST(doc_id AS VARCHAR)")} <
          CASE lang WHEN 'en' THEN 0.6 WHEN 'fr' THEN 0.3
                    WHEN 'de' THEN 0.2 ELSE 0.1 END
    """,
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: per-language sampling fractions toward a target
    corpus mixture (operators/sampling.py mixture_sample) — deterministic
    hash thresholds, plain pushdown-able filter, no RNG and no shuffle."""
    from faust_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return mixture_sample(
        d,
        group_col="lang",
        key="doc_id",
        fractions={"en": 0.6, "fr": 0.3, "de": 0.2},
        default_fraction=0.1,
        hex_chars=8,
    )


@_q(
    "temperature_mix",
    f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT SUM(n) AS tt, SUM(pow(n, CAST(0.5 AS DOUBLE))) AS w
          FROM c),
    p AS (SELECT lang,
                 LEAST(CAST(1.0 AS DOUBLE),
                       ROUND(CAST(0.3 AS DOUBLE) * tt
                             * pow(n, CAST(0.5 AS DOUBLE)) / (n * w),
                             6)) AS pk
          FROM c CROSS JOIN t)
    SELECT d.doc_id, d.lang FROM documents d JOIN p USING (lang)
    WHERE {_duck_hash01("CAST(d.doc_id AS VARCHAR)")} < pk
    """,
)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixture (operators/sampling.py
    temperature_sample, alpha=0.5, target 30%): per-language keep
    probability derived FROM the corpus — p_l ∝ n_l^0.5 / n_l — the
    mT5/XLM-R multilingual upsampling rule, so rare languages are
    upweighted without dominating. One group-count partial agg + one
    one-row total broadcast back; the keep rule is the deterministic
    md5 threshold (no RNG), p quantized to 6 decimals so the
    cross-engine comparison is exact."""
    from faust_spark.operators.sampling import temperature_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_sample(
        d,
        group_col="lang",
        key="doc_id",
        alpha=0.5,
        target_frac=0.3,
        hex_chars=8,
    )


@_q(
    "dedup_keep_best",
    """
    WITH g AS (
      SELECT doc_id, n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS content_hash
      FROM documents
    ),
    r AS (
      SELECT content_hash, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY content_hash
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY content_hash) AS n_in_group
      FROM g
    )
    SELECT content_hash, doc_id AS keeper_id, n_chars AS keeper_quality,
           n_in_group
    FROM r WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper selection: per normalized-content group
    keep the highest-quality member (longest here), not the lowest id —
    struct-max argmax inside one partial-agg shuffle, no window
    (operators/dedup.py keep_best)."""
    from faust_spark.operators.dedup import keep_best

    return keep_best(_t(spark, sf_dir, "documents"))


@_q(
    "scd2_history",
    """
    SELECT user_id, ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           value AS state_value,
           CAST(LEAD(ts) OVER w IS NULL AS INT) AS is_current
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 versioned dimension from an event stream: each state
    change opens a validity interval closed by the next change (lead), the
    open-ended row flagged current. The warehouse-side complement of the
    as-of join (asof_join probes exactly these intervals)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.col("value").alias("state_value"),
            F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
        )
    )


@_q(
    "scd2_lookup",
    """
    WITH dim AS (
      SELECT user_id, ts AS valid_from,
             LEAD(ts) OVER w AS valid_to,
             value AS state_value
      FROM events WHERE event_type = 'signup'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    e AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT e.event_id, e.user_id, d.state_value AS state_at_event
    FROM e LEFT JOIN dim d
      ON d.user_id = e.user_id
     AND d.valid_from <= e.ts
     AND (d.valid_to IS NULL OR d.valid_to > e.ts)
    """,
)
def scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each purchase enriched with the
    SCD2 state (scd2_history's intervals) valid AT the event time. The
    oracle expresses it as the textbook range join; the Spark plan is
    the backward as-of join instead — one shuffle on the key, a window
    carry-forward, NO range predicate — because probing 'the interval
    containing ts' against intervals built from change events IS the
    as-of lookup (max event_id breaks equal-timestamp signup ties,
    matching the interval construction's ordering)."""
    from faust_spark.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.col("event_id").alias("dim_event_id"),
        F.col("value").alias("state_value"),
    )
    out = asof_join(
        purchases,
        signups,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_tiebreak="dim_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("state_value").alias("state_at_event"),
    )


@_q(
    "edit_distance_pairs",
    """
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           levenshtein(a.text, b.text) AS dist
    FROM documents a
    JOIN documents b ON a.doc_id < b.doc_id
    WHERE abs(length(a.text) - length(b.text)) <= 10
      AND levenshtein(a.text, b.text) <= 10
    """,
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching by edit distance over the whole corpus — the
    record-linkage primitive. EXACT semantics (every pair with
    ``lev <= k``; the oracle states the plain exact contract — round 3's
    simhash banding silently made this approximate and is gone), yet
    sub-quadratic via PassJoin-style pigeonhole segment blocking (Li,
    Deng, Jiang, Feng, "PASS-JOIN", VLDB 2012):

    * Partition the SHORTER string of each pair into ``k+1 = 11``
      segments. If ``lev(a, b) <= k``, at most ``k`` edits touch ``a``,
      so by pigeonhole at least one segment survives edit-free and
      appears in ``b`` as an EXACT substring — at a position shifted by
      ``d`` where ``|d| + |delta - d| <= k`` (``delta`` = length gap;
      edits before the segment shift it by at most their count, edits
      after absorb the rest), AND |d| <= i AND |d - delta| <= k - i
      (PASS-JOIN's multi-match-aware selection: wider shifts are always
      also caught through an earlier/later segment, so the candidate
      UNION stays lossless while each window shrinks ~2x). Blocking is
      therefore a plain equi-join: index side = 11 segments per doc
      keyed ``(la, i, segment)``; probe side = the position-window
      substrings per doc keyed the same. Lossless by theorem, and the quadratic
      within-length-bucket candidate term of the naive length-blocked
      join never appears — candidates are docs sharing a ~len/11-char
      substring at a compatible position, i.e. essentially the true
      near-dups.
    * Shorter-side-below-``k+1`` strings (segments would be empty) take
      a bounded all-pairs pool: both sides are then < 2k+2 chars and
      such docs are a corpus tail (none in the fixtures).

    The Levenshtein DP runs threshold-bounded (early-exit past k) on
    deduplicated candidates only; texts are joined back AFTER candidate
    dedup so the exploded probe rows stay narrow. No theta join, no
    simhash recall loss, no row-at-a-time Python.

    100 TB: segment keys are 8-byte xxhash64 (collisions only add
    verified candidates); the 11-rows-per-doc index side broadcasts so
    the probe explosion never shuffles — past broadcast scale both
    sides shuffle on the same key, still linear. Probe amplification
    is bounded by 11 lengths x 11 slots x (k+1) positions of
    ~len/11-char substrings. Losslessness is property-tested against a
    brute-force oracle (tests/test_operator_properties.py).
    """
    from faust_spark.operators.dedup import edit_distance_pairs_exact

    return edit_distance_pairs_exact(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), k=10
    )


@_q(
    "rank_analytics",
    """
    SELECT event_id, user_id,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           NTILE(4) OVER w AS quartile
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def rank_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking analytics (percent_rank / cume_dist / ntile) — rational
    arithmetic over identical ints, so both engines agree exactly."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("value", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


@_q(
    "profile_events",
    """
    SELECT 'value' AS col, COUNT(*) AS n,
           COUNT(*) - COUNT(value) AS nulls,
           COUNT(DISTINCT value) AS n_distinct,
           MIN(value) AS min_v, MAX(value) AS max_v
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
           COUNT(DISTINCT user_id),
           CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
    FROM events
    """,
)
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (count / nulls / distinct / min / max) — the
    data-quality summary every ingestion pipeline runs first. One pass
    per profiled column here; a grouping-sets variant amortizes further."""
    e = _t(spark, sf_dir, "events")

    def prof(col: str):
        return e.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(col)).alias("nulls"),
            F.count_distinct(F.col(col)).alias("n_distinct"),
            F.min(col).cast("double").alias("min_v"),
            F.max(col).cast("double").alias("max_v"),
        )

    return prof("value").unionByName(prof("user_id"))


# Shard count for pack_sequences — interpolated into BOTH the oracle SQL
# and the DataFrame expression so the two can't drift (they were two
# magic `16` literals before). 2^40 leaves ~10^12 chunks per shard
# before the combined key could collide.
N_PACK_SHARDS = 16
_PACK_SHARD_SHIFT = 1 << 40


@_q(
    "pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, doc_id % {N_PACK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS chunk_id,
           shard * {_PACK_SHARD_SHIFT}
             + CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT)
             AS chunk_key
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign docs to ~2048-token context
    chunks by running token total (the sequential-packer semantics).
    Packing is SHARDED — running sum within a deterministic shard key
    (doc_id % N_PACK_SHARDS), which is how real sequence packers work at
    corpus scale (each writer task packs its own shard independently;
    global document order is an arbitrary choice anyway). The window is
    partitioned, so the plan has no single-partition exchange and
    scales with the shard count. chunk_id is only unique within a
    shard; ``chunk_key = shard * 2^40 + chunk_id`` is the globally
    unique chunk identity consumers should key on."""
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % N_PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    chunk_id = F.floor(
        (F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048.0
    )
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        chunk_id.alias("chunk_id"),
        (
            F.col("shard").cast("long") * F.lit(_PACK_SHARD_SHIFT)
            + chunk_id
        ).alias("chunk_key"),
    )


@_q(
    "value_trend",
    """
    SELECT user_id,
           ROUND(regr_slope(value, epoch(ts)) * 86400, 6) AS slope_per_day,
           COUNT(*) AS cnt
    FROM events GROUP BY 1
    """,
)
def value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear regression slope (built-in regr_slope — JVM-side
    partial aggregation, no UDF). Scaled to per-day and rounded: the raw
    slope differs across engines in the last ulps (float sum order), the
    rounded per-day figure is stable by 7 orders of magnitude."""
    return spark.sql(
        """
        SELECT user_id,
               ROUND(regr_slope(value, unix_micros(ts) / 1e6) * 86400, 6)
                 AS slope_per_day,
               COUNT(*) AS cnt
        FROM {ev} GROUP BY 1
        """,
        ev=_t(spark, sf_dir, "events"),
    )


@_q(
    "pivot_counts",
    """
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY 1
    """,
)
def pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix. Explicit value list keeps
    the plan a single pass (no distinct-value pre-query)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@_q(
    "rollup_revenue",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (SURVEY §2.4 'not present in faust,
    Catalyst built-in'). NULL group markers coalesced to 'ALL' so both
    engines agree on the encoding."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "cnt",
            "sum_price",
        )
    )
