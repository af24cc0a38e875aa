"""faust surface queries: counters, filters and projections, windows and
joins (SURVEY §2.2-§2.5) — the reference's examples as batch dataflows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faust_spark.queries import _dec_sum, _q, _t


@_q(
    "counter_table",
    """
    SELECT user_id, COUNT(*) AS cnt
    FROM events GROUP BY user_id
    """,
)
def counter_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word_count counter-table pattern (``default=int`` table).

    Reference behavior: examples/word_count.py:28-32 — ``table[k] += 1``
    per event. Spark: hash aggregation with map-side partial aggregates;
    at 100 TB this is one shuffle of pre-combined (key, count) pairs.
    """
    from faust_spark import App

    app = App("counter", spark=spark)
    events = app.stream(_t(spark, sf_dir, "events")).group_by("user_id")
    return app.Table("hits").count(events, alias="cnt")


@_q(
    "sum_table",
    """
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY user_id
    """,
)
def sum_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The withdrawals reducer pattern (``table[k] += amount``).

    Reference behavior: examples/withdrawals.py:51-60.
    """
    from faust_spark import App

    app = App("spend", spark=spark)
    s = app.stream(_t(spark, sf_dir, "events")).group_by("user_id")
    return app.Table("spend").aggregate(s, _dec_sum("value"))


@_q(
    "filter_project",
    """
    SELECT event_id, user_id, value
    FROM events WHERE event_type = 'error'
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.filter + items projection (faust/streams.py:606-627,279-291).

    Both the predicate and the projection reach the parquet scan
    (PushedFilters + pruned ReadSchema) — verified in tests/test_plans.py.
    """
    from faust_spark import App

    app = App("filters", spark=spark)
    return (
        app.stream(_t(spark, sf_dir, "events"))
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "value")
        .to_df()
    )


@_q(
    "rekey_json",
    """
    SELECT json_extract_string(props, '$.k') AS k, COUNT(*) AS cnt
    FROM events GROUP BY 1
    """,
)
def rekey_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by on a derived key (JSON field) — the repartition operator.

    Reference behavior: Stream.group_by with a callable key selector
    (faust/streams.py:507-604); the shuffle is the repartition topic.
    """
    from faust_spark import App

    app = App("rekey", spark=spark)
    s = (
        app.stream(_t(spark, sf_dir, "events"))
        .group_by(F.get_json_object("props", "$.k"), name="k")
    )
    return app.Table("per_k").count(s, alias="cnt")


@_q(
    "set_table",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
    FROM events GROUP BY user_id
    """,
)
def set_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SetTable: per-key changelogged set (faust/tables/sets.py:270-311).

    ``collect_set`` is the distributed set-union; sorted + joined for a
    deterministic comparison encoding.
    """
    from faust_spark import App

    app = App("sets", spark=spark)
    s = app.stream(_t(spark, sf_dir, "events")).group_by("user_id")
    out = app.SetTable("types").collect(s, "event_type", alias="types_arr")
    return out.select(
        "user_id", F.array_join("types_arr", ",").alias("types")
    )


@_q(
    "take_first",
    """
    SELECT event_id, user_id, ts FROM events
    ORDER BY ts, event_id LIMIT 20
    """,
)
def take_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.take(max_) — bounded buffer (faust/streams.py:303-395).

    Batch semantics: first N in event-time order. Spark executes
    TakeOrderedAndProject — a per-partition top-N then a tiny driver merge,
    never a global sort.
    """
    return (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .orderBy("ts", "event_id")
        .limit(20)
    )


@_q(
    "enumerate_stream",
    """
    SELECT event_id,
           ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS idx
    FROM events WHERE event_type = 'error'
    """,
)
def enumerate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.enumerate (faust/streams.py:397-403): running index.

    Distributed zipWithIndex-style plan: range partition on the (unique)
    order key, local row_number per partition, tiny per-partition offset
    table broadcast back. No single-partition exchange on the data path —
    the only SinglePartition window is over the one-row-per-partition
    count side.
    """
    from faust_spark import App

    app = App("enum", spark=spark)
    return (
        app.stream(_t(spark, sf_dir, "events"))
        .filter(F.col("event_type") == "error")
        .select("event_id")
        .enumerate("event_id", name="idx")
        .to_df()
    )


@_q(
    "union_streams",
    """
    SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, event_type, value FROM events WHERE event_type = 'error'
    """,
)
def union_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stream merge (reference: agent consuming several topics /
    Stream combine; Spark: unionByName, a zero-shuffle narrow op)."""
    from faust_spark import App

    app = App("union", spark=spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    a = app.stream(ev).filter("event_type = 'purchase'")
    b = app.stream(ev).filter("event_type = 'error'")
    return a.union(b).to_df()


@_q(
    "distinct_users_per_type",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (SURVEY §2.4 'not present in faust');
    the approx variant below is the 100 TB path."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@_q(
    "approx_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++): constant memory per group vs the
    exact expand — the sketch path for distinct counting at scale.

    The HLL estimate itself is engine-specific, so the checkable contract
    is the HLL *accuracy guarantee*: per group, emit the exact distinct
    count plus ``within_bound`` = |approx - exact| <= 5*rsd*exact. The
    oracle asserts the same exact counts with ``within_bound`` TRUE — an
    estimate drifting past 5 standard errors turns the row red.
    """
    rsd = 0.01
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=rsd).alias("__approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("__approx") - F.col("n_users_exact"))
                <= F.lit(5 * rsd) * F.col("n_users_exact")
            ).alias("within_bound"),
        )
    )


@_q("distinct_types", "SELECT DISTINCT event_type FROM events")
def distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup surface (SURVEY §2.6, dropDuplicates)."""
    return _t(spark, sf_dir, "events").select("event_type").distinct()


@_q(
    "topk_users",
    """
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    ORDER BY total DESC, user_id LIMIT 10
    """,
)
def topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over an aggregation — agg + TakeOrderedAndProject (no global
    sort; SURVEY §2.6)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(_dec_sum("value"))
        .orderBy(F.desc("total"), "user_id")
        .limit(10)
    )


# =====================================================================
# windows (SURVEY §2.5)
# =====================================================================


@_q(
    "tumbling_hourly",
    """
    SELECT date_trunc('hour', ts) AS wstart, event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window aggregation (Table.tumbling, faust/windows.py:89-96).

    ``F.window(ts, '3600 seconds')`` start == date_trunc('hour') for
    hour-aligned grids.
    """
    from faust_spark import App

    app = App("tumbling", spark=spark)
    s = app.stream(_t(spark, sf_dir, "events")).group_by("event_type")
    tbl = app.Table("hourly", ts_col="ts").tumbling(3600)
    out = tbl.aggregate(s, F.count(F.lit(1)).alias("cnt"), _dec_sum("value"))
    return out.select(
        F.col("window.start").alias("wstart"), "event_type", "cnt", "total"
    )


@_q(
    "hopping_30m_15m",
    """
    WITH e AS (SELECT epoch(ts) AS te FROM events),
    w AS (
      SELECT CAST(floor(te / 900) * 900 - k * 900 AS BIGINT) AS ws
      FROM e CROSS JOIN (VALUES (0), (1)) t(k)
      WHERE floor(te / 900) * 900 - k * 900 > te - 1800
    )
    SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL '1 second' * ws AS wstart,
           COUNT(*) AS cnt
    FROM w GROUP BY 1
    """,
)
def hopping_30m_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping window (size 30 min, hop 15 min): each event lands in 2
    windows (faust HoppingWindow.ranges, faust/windows.py:25-70).

    The DuckDB oracle materializes the same window-assignment rule
    explicitly (hop-grid floor minus k steps).
    """
    from faust_spark import App

    app = App("hopping", spark=spark)
    s = app.stream(_t(spark, sf_dir, "events")).group_by(F.lit(1), name="g")
    tbl = app.Table("hop", ts_col="ts").hopping(1800, 900)
    out = tbl.aggregate(s, F.count(F.lit(1)).alias("cnt"))
    return out.select(F.col("window.start").alias("wstart"), "cnt")


@_q(
    "window_point_read",
    """
    SELECT user_id, COUNT(*) AS cnt
    FROM events
    WHERE date_trunc('hour', ts) = TIMESTAMP '2024-01-15 12:00:00'
    GROUP BY user_id
    """,
)
def window_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed point read: ``table[k].current()/.value()`` selects one
    window's value (faust/tables/wrappers.py:214-237) — a filter on the
    window struct, which Catalyst pushes down to the scan."""
    from faust_spark import App

    app = App("pointread", spark=spark)
    s = app.stream(_t(spark, sf_dir, "events")).group_by("user_id")
    tbl = app.Table("hourly", ts_col="ts").tumbling(3600)
    out = tbl.count(s, alias="cnt")
    # 2024-01-15 12:30 UTC falls in the window starting 12:00
    ts = 1705320000.0  # 2024-01-15 12:00:00 UTC
    return tbl.window_at(out, ts + 1800).select("user_id", "cnt")


# =====================================================================
# joins (SURVEY §2.3) — real implementations where the reference stubs
# =====================================================================


@_q(
    "global_table_join",
    """
    SELECT n.n_name, COUNT(*) AS cnt,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def global_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GlobalTable enrichment: broadcast the dimension to every task
    (faust/tables/globaltable.py:5; app.GlobalTable). The fact side never
    shuffles for the join — only the final small agg exchanges."""
    from faust_spark.joins import global_lookup

    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = global_lookup(
        e, c, on=e.user_id == c.c_custkey, how="inner"
    )
    enriched = global_lookup(
        enriched, n, on=enriched.c_nationkey == n.n_nationkey, how="inner"
    )
    return enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("cnt"), _dec_sum("value")
    )


@_q(
    "stream_table_lookup",
    """
    SELECT c.c_mktsegment AS segment, COUNT(*) AS cnt
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_table_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–table lookup: the ``table[key]`` enrich idiom inside agent
    bodies (reference examples/withdrawals.py:51-60) as a stream-static
    join."""
    from faust_spark.joins import stream_table_join

    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = stream_table_join(e, c, on=e.user_id == c.c_custkey, how="inner")
    return out.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@_q(
    "interval_join_sliding",
    """
    SELECT p.user_id, COUNT(*) AS pairs
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.user_id
    """,
)
def interval_join_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SlidingWindow-semantics interval join: clicks within 30 min before a
    purchase, per user (spec: faust/windows.py:116-132 docstring SQL).

    Executes as an equi-join on user_id with the range as residual
    predicate — shuffle by key, no cartesian.
    """
    from faust_spark.joins import interval_join

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = interval_join(
        p, c, left_ts="ts", right_ts="ts", before=1800.0, after=0.0,
        on="user_id", how="inner",
    )
    return out.groupBy(F.col("l.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("pairs")
    )


@_q(
    "semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi — available natively (absent in the reference, SURVEY
    §2.3 'missing vs relational engines')."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@_q(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti — customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@_q(
    "asof_join",
    """
    WITH last_o AS (
      SELECT o_custkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT e.event_id, e.user_id, lo.o_totalprice AS last_order_price
    FROM events e
    LEFT JOIN last_o lo ON lo.o_custkey = e.user_id AND lo.rn = 1
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each event enriched with the customer's most
    recent order at event time. Neither faust nor the DataFrame API has
    this; implemented with the union + last-value-carry-forward trick
    (one shuffle, no range scan) in faust_spark.joins.asof_join.

    All fixture orders predate all events, so the oracle reduces to
    'latest order per customer' — the operator itself honors ts ordering.
    """
    from faust_spark.joins import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate"),
            F.col("o_orderkey"),
            F.col("o_totalprice"),
        )
    )
    out = asof_join(
        e,
        o,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_tiebreak="o_orderkey",
    )
    return out.select(
        "event_id", "user_id", F.col("o_totalprice").alias("last_order_price")
    )


@_q(
    "asof_join_forward",
    """
    WITH fl AS (
      SELECT o.o_orderkey, l.l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                                ORDER BY l.l_shipdate ASC,
                                         l.l_linenumber DESC,
                                         l.l_extendedprice DESC) AS rn
      FROM orders o JOIN lineitem l
        ON l.l_orderkey = o.o_orderkey AND l.l_shipdate >= o.o_orderdate
    )
    SELECT o.o_orderkey, fl.l_extendedprice AS first_ship_price
    FROM orders o
    LEFT JOIN fl ON fl.o_orderkey = o.o_orderkey AND fl.rn = 1
    """,
)
def asof_join_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each order enriched with its EARLIEST lineitem
    shipped at/after the order date (ties on ship date resolved to the
    max linenumber — the documented 'max tiebreak wins' contract, both
    directions). The synthetic fixture does NOT guarantee lineitems ship
    after their order (unlike real TPC-H), so the oracle applies the
    ``l_shipdate >= o_orderdate`` constraint explicitly — which also
    makes it a sharper check of the operator's range semantics.

    The tiebreak CHAINS to ``l_extendedprice`` because the fixture's
    ``l_linenumber`` is not unique within (orderkey, shipdate) — at
    sf0.1, 11 orders' winning rows collide on (shipdate, linenumber)
    with differing prices, so the single-column tiebreak left both this
    query and the oracle free to disagree (caught by the r9 10x-scale
    gate run; sf0.01 has no collisions). With the chain the pick is a
    total order over everything the query emits."""
    from faust_spark.joins import asof_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_shipdate",
        "l_linenumber",
        "l_extendedprice",
    )
    out = asof_join(
        o,
        li,
        on="o_orderkey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        direction="forward",
        right_tiebreak=("l_linenumber", "l_extendedprice"),
    )
    return out.select(
        "o_orderkey", F.col("l_extendedprice").alias("first_ship_price")
    )


@_q(
    "asof_join_nearest",
    """
    WITH nl AS (
      SELECT o.o_orderkey, l.l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                ORDER BY abs(epoch(l.l_shipdate) - epoch(o.o_orderdate)),
                         CASE WHEN l.l_shipdate <= o.o_orderdate
                              THEN 0 ELSE 1 END,
                         l.l_linenumber DESC,
                         l.l_extendedprice DESC) AS rn
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o.o_orderkey, nl.l_extendedprice AS nearest_ship_price
    FROM orders o
    LEFT JOIN nl ON nl.o_orderkey = o.o_orderkey AND nl.rn = 1
    """,
)
def asof_join_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (pandas merge_asof direction='nearest'
    parity, r9): each order enriched with the lineitem whose ship date
    is CLOSEST to the order date in either direction — equidistant
    candidates resolve backward, and within the matched timestamp the
    (l_linenumber, l_extendedprice) chain makes the pick a total order
    (the same fixture collision the forward gate documents). The
    fixture ships lineitems both before and after their order date, so
    both directions genuinely win rows here.

    Physical shape: BOTH direction window families ride the ONE
    union + key-exchange the backward/forward forms use (two sorts on
    the same shuffle — Catalyst chains the Window operators); the
    distance decision is a per-row projection. No range join, no
    second shuffle. The oracle recomputes the whole rule relationally
    (rank by |epoch delta|, backward-preference flag, tiebreak
    chain)."""
    from faust_spark.joins import asof_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_shipdate",
        "l_linenumber",
        "l_extendedprice",
    )
    out = asof_join(
        o,
        li,
        on="o_orderkey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        direction="nearest",
        right_tiebreak=("l_linenumber", "l_extendedprice"),
    )
    return out.select(
        "o_orderkey", F.col("l_extendedprice").alias("nearest_ship_price")
    )
