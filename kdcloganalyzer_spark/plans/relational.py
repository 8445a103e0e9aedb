"""Tier-1 flagship + Tier-3 relational operators (SURVEY.md §2.1, §2.3).

Every query here is oracle-checked against DuckDB. Conventions:
- computed columns aliased identically on both sides;
- money/value aggregates accumulate EXACT INTEGER units (`_cents`, or
  `_rev_e4` for discounted revenue) — `round(sum(DOUBLE))` is
  summation-order-dependent and flipped a driver hash in r9
  (analytics_nation_trade_volume); the whole class is migrated;
- top-k / window queries carry a total tie-break order.

Scale notes (the 100 TB story) are in each docstring; `broadcast()` is
used explicitly where a dimension is known-small, everything else is left
to Catalyst + AQE.
"""

from __future__ import annotations

from kdcloganalyzer_spark import appcache

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans.registry import driver_path, query
from kdcloganalyzer_spark.sources.tables import load_table


def _cents(col):
    """Exact integer cents of a 2-decimal money DOUBLE column.

    All money/value columns in the driver tables carry exactly 2
    decimals (verified against the parquet), so this is lossless and
    makes every downstream sum order-free. SQL twin:
    ``CAST(round(x * 100) AS BIGINT)``."""
    if isinstance(col, str):
        col = F.col(col)
    return F.round(col * 100).cast("bigint")


def _rev_e4(price="l_extendedprice", discount="l_discount"):
    """Discounted revenue in exact 1e-4 dollars: price cents ×
    (100 − discount percent). SQL twin:
    ``CAST(round(p*100) AS BIGINT) * (100 - CAST(round(d*100) AS
    BIGINT))``."""
    return _cents(price) * (100 - _cents(discount))


# ---------------------------------------------------------------------------
# Flagship: the reference's core aggregation transplanted onto `events`.
# ---------------------------------------------------------------------------
@query(
    "agg_min_max_count",
    oracle="""
    SELECT user_id,
           min(ts)  AS first_ts,
           max(ts)  AS last_ts,
           count(*) AS n
    FROM events
    WHERE event_type <> 'error'
    GROUP BY user_id
    """,
)
def agg_min_max_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key (first, last, count) — the reference's flagship aggregate.

    Semantics: UserTimeReducer.java:23-31 / UserTimeRunner.java:30 ("earliest
    and latest date each user successfully authenticated"), with the intended
    min/max rather than the reference's inverted merge (UserTimeRec.java:120-126,
    SURVEY.md §8 B1). The `event_type <> 'error'` filter mirrors the mapper's
    success-only filter (UserTimeMapper.java:27-49).

    Scale: filter is pushed to the parquet scan; Spark plans
    partial HashAggregate → Exchange(hash(user_id)) → final HashAggregate,
    which is exactly the reference's mapper+combiner+reducer
    (UserTimeCombiner.java:23-31) with no user code. min/max/count buffers
    are constant-size, so skew in user_id only affects shuffle balance, and
    the map-side partial absorbs most of it.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") != "error")
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------
@query(
    "join_inner_hash",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer.

    Scale: both sides large → Catalyst picks SortMergeJoin/ShuffledHashJoin on
    the key; AQE converts to broadcast at runtime if customer turns out small,
    and splits skewed o_custkey partitions (skewJoin.enabled).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@query(
    "join_broadcast",
    oracle="""
    SELECT r_name, n_name,
           count(*)                 AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS total_acctbal_c
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim⋈dim with explicit broadcast of the dimensions.

    Scale: nation (25 rows) and region (5 rows) are broadcast to every
    executor — zero shuffle of the 100 TB fact side for the join; the only
    exchange is the final groupBy, whose cardinality is ≤125 groups.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_cents("c_acctbal")).cast("bigint").alias(
                "total_acctbal_c"
            ),
        )
    )


@query(
    "join_left_right_full",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer FULL JOIN orders ON c_custkey = o_custkey
    """,
)
def join_left_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (subsumes left/right null-extension semantics).

    Scale: outer joins can't broadcast the preserved side; SortMergeJoin on
    the key. AQE still coalesces the post-shuffle partitions.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "full"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_semi_anti",
    oracle="""
    SELECT c_custkey, 'has_orders' AS tag FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, 'no_orders' AS tag FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence joins: left_semi ∪ left_anti, tagged.

    Scale: semi/anti joins only ship the join key of the probe side and
    never duplicate matched rows; the orders side is reduced to distinct
    keys by Spark before the join.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = customer.c_custkey == orders.o_custkey
    semi = customer.join(orders, cond, "left_semi").select(
        "c_custkey", F.lit("has_orders").alias("tag")
    )
    anti = customer.join(orders, cond, "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("tag")
    )
    return semi.unionByName(anti)


@query(
    "join_range_theta",
    oracle="""
    SELECT s_suppkey, c_custkey
    FROM supplier, customer
    WHERE abs(s_acctbal - c_acctbal) < 1.0
    """,
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (band) join: |s_acctbal - c_acctbal| < 1.0.

    Scale: a naive theta join is O(n·m) BroadcastNestedLoop. We pre-bucket
    both sides on floor(acctbal) and equi-join on adjacent buckets, turning
    it into a hash join that only compares candidates within ±1 bucket —
    the standard band-join decomposition, which survives 100× scale-up
    where the nested loop would not.
    """
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_acctbal"), F.floor("s_acctbal").alias("s_bucket")
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal"), F.floor("c_acctbal").alias("c_bucket")
    )
    # Each supplier probes its own bucket and both neighbors.
    expanded = supplier.withColumn(
        "probe_bucket", F.explode(F.array(F.col("s_bucket") - 1, F.col("s_bucket"), F.col("s_bucket") + 1))
    )
    return (
        expanded.join(customer, expanded.probe_bucket == customer.c_bucket)
        .filter(F.abs(F.col("s_acctbal") - F.col("c_acctbal")) < 1.0)
        .select("s_suppkey", "c_custkey")
    )


@query(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts <= p.ts) AS asof_click_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the nearest earlier-or-equal click of
    the same user.

    Spark has no native ASOF JOIN; the scalable emulation is the
    union-and-carry-forward pattern: union both streams, sort per key by ts,
    and carry the last click ts forward with last(..., ignorenulls=True) —
    one shuffle on user_id, no range explosion, works at any scale where a
    per-key sort fits (vs. the O(n·m) range-join alternative).
    """
    events = load_table(spark, sf_dir, "events")
    # r15: the click/purchase branches are DISJOINT on event_type, so
    # the union of two filtered projections is one filtered CASE pass —
    # the events scan runs once instead of once per stream.
    unioned = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.col("ts")).alias(
            "click_ts"
        ),
        F.when(
            F.col("event_type") == "purchase", F.col("event_id")
        ).alias("event_id"),
    )
    # Clicks sort before purchases at equal ts (is_purchase asc) so ts<=ts
    # matches are visible to the carry-forward.
    unioned = unioned.withColumn(
        "is_purchase", F.col("event_id").isNotNull().cast("int")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("asof_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("is_purchase") == 1)
        .select("event_id", "user_id", "ts", "asof_click_ts")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
@query(
    "set_union_intersect_except",
    oracle="""
    WITH c AS (SELECT DISTINCT c_nationkey AS k FROM customer),
         s AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
    SELECT 'union' AS op, k FROM (SELECT k FROM c UNION SELECT k FROM s)
    UNION ALL
    SELECT 'intersect' AS op, k FROM (SELECT k FROM c INTERSECT SELECT k FROM s)
    UNION ALL
    SELECT 'except' AS op, k FROM (SELECT k FROM c EXCEPT SELECT k FROM s)
    """,
)
def set_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over nation-key sets, tagged by op."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k")).distinct()
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k")).distinct()
    return (
        c.union(s).distinct().select(F.lit("union").alias("op"), "k")
        .unionByName(c.intersect(s).select(F.lit("intersect").alias("op"), "k"))
        .unionByName(c.exceptAll(s.distinct()).distinct().select(F.lit("except").alias("op"), "k"))
    )


# ---------------------------------------------------------------------------
# Aggregation breadth
# ---------------------------------------------------------------------------
@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                    AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(status, priority) with count + sum.

    Scale: Spark expands rollup into a single Expand + HashAggregate — one
    shuffle for all grouping sets, not one per set.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("total_c"),
    )


@query(
    "window_rank_analytic",
    oracle="""
    SELECT o_orderkey, o_custkey,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
           lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_spend_c
    FROM orders
    """,
)
def window_rank_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / lag / running sum over per-customer windows.

    Scale: all three windows share the partitionBy(o_custkey) exchange;
    Spark plans one shuffle + two sorts. Skewed customers are bounded by
    per-customer order counts, not total data size.
    """
    orders = load_table(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    by_date = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = by_date.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(by_price).alias("rnk"),
        F.lag("o_orderkey").over(by_date).alias("prev_order"),
        F.sum(_cents("o_totalprice"))
        .over(running)
        .cast("bigint")
        .alias("running_spend_c"),
    )


@query(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: ORDER BY ... LIMIT k.

    Scale: Spark plans TakeOrderedAndProject — per-partition top-k then a
    k-way merge on the driver; never a global sort of 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "distinct_exact_approx",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE                    AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def distinct_exact_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact countDistinct + HLL approx_count_distinct, cross-validated.

    The approx estimate can't be hash-compared across engines, so the query
    asserts it instead: approx_ok ⇔ |approx − exact| ≤ 10%·exact (HLL rsd
    default 5%). Scale: at 100 TB the exact distinct is the expensive one
    (extra shuffle on (event_type, user_id)); approx_count_distinct is a
    constant-size sketch merged map-side.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id").alias("n_approx"),
        )
        .select(
            "event_type",
            "n_exact",
            (F.abs(F.col("n_approx") - F.col("n_exact")) <= 0.1 * F.col("n_exact")).alias(
                "approx_ok"
            ),
        )
    )


@query(
    "top_n_entities",
    oracle="""
    SELECT k, n FROM (
        SELECT user_id AS k, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, user_id) AS rn
        FROM events
        GROUP BY user_id
    ) WHERE rn <= 10
    """,
)
def top_n_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N entities by event count (README.md:10 'Top N hosts, users...').

    Deterministic under ties via the user_id tie-break. Scale: count is a
    partial-agg'd groupBy; the top-N itself is TakeOrderedAndProject over
    the (small) per-entity counts.
    """
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy(F.col("user_id").alias("k")).agg(F.count("*").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("k"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("k", "n")
    )


@query(
    "sink_partitioned_parquet",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet write + partition-pruned read-back.

    orders is written partitionBy(o_orderstatus); the read-back filter on
    the partition column must prune directories (plan shows
    PartitionFilters, zero data files of other statuses touched) — the
    layout that makes 100 TB scans cheap when queries carry partition
    predicates. Oracle computes the same aggregate from the unpartitioned
    table."""
    out = appcache.tempdir(prefix="orders_part_")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_c"),
    )


@appcache.amortized({"join_dynamic_partition_pruning"})
def _day_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """The events table as day-partitioned parquet, one file per day."""
    out = appcache.tempdir(prefix="events_daypart_")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.withColumn("day", F.to_date("ts"))
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out)
    )
    return out


@query(
    "join_dynamic_partition_pruning",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events
    -- not IN (DATE..., ...): DuckDB 1.0 re-coerces CAST(ts AS DATE) in
    -- an IN list back to TIMESTAMP and matches nothing; BETWEEN is safe
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-28' AND DATE '2024-01-30'
    GROUP BY 1, 2
    """,
)
def join_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition pruning: the fact table is staged once per
    (session, sf) as day-partitioned parquet (repartitioned by the
    partition column first — one file per partition, the small-files
    discipline), then joined to a FILTERED dim whose surviving days are
    only known at run time. Catalyst turns the broadcast side into a
    DynamicPruningExpression on the partitioned scan, so only 3 of 30
    day directories are read — the star-schema scan-avoidance that at
    100 TB is the difference between reading a month and reading a
    weekend (plan shape pinned in tests/test_plans.py)."""
    fact = spark.read.parquet(_day_partitioned_events(spark, sf_dir))
    dim = spark.createDataFrame(
        [(f"2024-01-{d:02d}", "keep" if d >= 28 else "drop") for d in
         range(26, 31)],
        "day_s string, tag string",
    ).select(F.col("day_s").cast("date").alias("day"), "tag")
    return (
        fact.join(F.broadcast(dim.filter(F.col("tag") == "keep")), "day")
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_c"),
        )
    )


@query(
    "analytics_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4,
           CAST(o.o_orderdate AS TIMESTAMP) AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_e4 DESC, orderdate, orderkey
    LIMIT 10
    """,
)
def analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped headline query: 3-way join, filtered fact, revenue
    top-10. The realistic end-to-end shape for the engine: selection
    filters push to all three scans, the customer side broadcasts,
    revenue aggregates partially before the exchange, and the top-10
    plans as TakeOrderedAndProject (no global sort)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = "1995-03-15"
    joined = (
        lineitem.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                customer.filter(F.col("c_mktsegment") == "BUILDING")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    agg = joined.groupBy(
        F.col("l_orderkey").alias("orderkey"),
        F.col("o_orderdate").cast("timestamp").alias("orderdate"),
        F.col("o_orderpriority").alias("orderpriority"),
    ).agg(F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"))
    return agg.orderBy(
        F.desc("revenue_e4"), F.asc("orderdate"), F.asc("orderkey")
    ).limit(10).select(
        "orderkey", "revenue_e4", "orderdate", "orderpriority"
    )


@query(
    "analytics_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue_e4 DESC, nation
    """,
)
def analytics_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5-shaped headline query: 6-way snowflake join with the
    customer-nation = supplier-nation co-location condition. region and
    nation broadcast (tiny dims), supplier broadcasts at this scale;
    the fact-side joins shuffle on their keys and AQE picks the final
    strategy."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    joined = (
        lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("nation"))
    )


def _evict_bucketed_tables() -> None:
    """join_bucketed's amortization is the pair of catalog tables —
    dropping them makes a bench re-sample re-pay the one-time bucketed
    layout write (the id's genuine cold cost). External-path data dirs
    are rmtree'd here too (ADVICE r14: DROP TABLE on an external table
    leaves the files, so each min-of-3 cold pass would otherwise leak
    two bucketed copies of lineitem+orders in /tmp per re-sample);
    creation also goes through appcache.tempdir so process exit reaps
    whatever a crashed run left behind."""
    import shutil

    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    for t in spark.catalog.listTables():
        if t.name.startswith(("lineitem_bkt_", "orders_bkt_")):
            try:
                loc = (
                    spark.sql(f"DESCRIBE TABLE EXTENDED {t.name}")
                    .where("col_name = 'Location'")
                    .collect()
                )
                path = loc[0][1].removeprefix("file:") if loc else None
            except Exception:  # noqa: BLE001 — hygiene is best-effort
                path = None
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            if path:
                shutil.rmtree(path, ignore_errors=True)


appcache.register_evictor(
    lambda qid: qid == "join_bucketed", _evict_bucketed_tables
)


@query(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderpriority AS orderpriority,
           count(*) AS n,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free big-big join via bucketed tables: lineitem and orders
    are both written ``bucketBy(8, orderkey)`` + ``sortBy`` (a one-time
    layout investment), so the fact-fact join plans as a SortMergeJoin
    with ZERO Exchange on either side — the co-location technique that
    turns the biggest recurring shuffle of a 100 TB star schema into a
    local merge. Buckets are written sorted (one file per bucket via the
    pre-write repartition); the plan keeps cheap LOCAL per-task Sorts
    because Spark ignores bucket sort order on read unless
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` is set — the
    expensive part (the Exchange) is what bucketing removes. The
    ``merge`` hint keeps the demonstration honest at small SF
    (where AQE would otherwise broadcast one side and bypass bucketing).
    Idempotent per (session, sf): tables are reused when already created.
    Oracle computes the identical join from the unbucketed parquet."""
    import re

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    specs = {
        f"lineitem_bkt_{tag}": ("lineitem", "l_orderkey"),
        f"orders_bkt_{tag}": ("orders", "o_orderkey"),
    }
    for tbl, (src, key) in specs.items():
        if not spark.catalog.tableExists(tbl):
            path = appcache.tempdir(prefix=f"{tbl}_")
            (
                load_table(spark, sf_dir, src)
                .repartition(8, F.col(key))
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(tbl)
            )
    li = spark.table(f"lineitem_bkt_{tag}")
    orders = spark.table(f"orders_bkt_{tag}")
    joined = li.hint("merge").join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy(
        F.col("o_orderpriority").alias("orderpriority")
    ).agg(
        F.count("*").alias("n"),
        F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"),
    )


@query(
    "join_skew_salted",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type,
             length(event_type) * 1.5 AS weight
      FROM events
    )
    SELECT e.event_type,
           count(*) AS n,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)
                    * CAST(round(d.weight * 10) AS BIGINT))
                AS BIGINT) AS weighted_e3
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted skew join: the probe side's join key has tiny
    cardinality (5 event types over millions of rows — the worst-case
    skew shape), so a plain shuffle join lands entire key populations on
    single tasks. The fact side gets a DETERMINISTIC salt
    (pmod(hash(event_id), 8) — never rand(), which breaks retry
    idempotency), the dim side is replicated ×8 via explode(sequence),
    and the join key widens to (event_type, salt) — 40 balanced
    partitions instead of 5 hot ones. The technique AQE's skew-join
    handles for sort-merge joins, shown explicitly because it also
    works where AQE can't see (aggregations, stateful streaming keys).
    The merge hint forces the shuffle join an auto-broadcast would
    bypass at bench scale; the oracle computes the unsalted join."""
    n_salt = 8
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type") * 1.5)
    )
    salted_ev = ev.withColumn(
        "salt", F.pmod(F.hash("event_id"), F.lit(n_salt))
    )
    replicated_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    joined = salted_ev.hint("merge").join(
        replicated_dim, ["event_type", "salt"]
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(
            _cents("value") * F.round(F.col("weight") * 10).cast("bigint")
        )
        .cast("bigint")
        .alias("weighted_e3"),
    )


@query(
    "rollup_time_bucket",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM events GROUP BY 1, 2
    """,
)
def rollup_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: events are materialized
    ONCE as an hourly rollup (count/sum/min/max per hour × event_type,
    written hive-partitioned by day), and the daily question is answered
    FROM the rollup by re-aggregation — sums of sums, counts of counts,
    mins of mins. At 100 TB this is the pattern that turns every
    dashboard query from a fact-table scan into a scan of a table
    ~10⁴× smaller, and the day-partitioned layout prunes to the
    queried range. The oracle computes the daily answer directly from
    raw events, proving rollup-then-reaggregate is lossless for
    decomposable aggregates."""
    out = appcache.tempdir(prefix="events_rollup_")
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(_cents("value")).alias("sum_value_c"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    hourly.write.mode("overwrite").partitionBy("day").parquet(out)
    roll = spark.read.parquet(out)
    return roll.groupBy("day", "event_type").agg(
        F.sum("n").alias("n"),
        F.sum("sum_value_c").cast("bigint").alias("sum_value_c"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    )


@query(
    "fn_datetime_suite",
    oracle="""
    SELECT event_id,
           CAST(date_trunc('month', ts) AS TIMESTAMP) AS mon,
           CAST(ts + INTERVAL 3 MONTH AS DATE)        AS plus3m,
           datediff('day', CAST(ts AS DATE), DATE '2024-01-01') AS to_2024,
           CAST(quarter(ts) AS INT)                   AS q,
           CAST(date_part('dow', ts) + 1 AS INT)      AS dow,
           CAST(floor(epoch(ts)) AS BIGINT)           AS epoch_s
    FROM events WHERE event_id < 500
    """,
)
def fn_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar-function battery: truncation, month arithmetic
    (end-of-month clamped on both engines), day diffs, calendar parts,
    epoch seconds. All codegen projections; the engine-equivalence traps
    are in the oracle (Spark dayofweek is 1=Sunday, DuckDB dow is
    0=Sunday; Spark unix_timestamp FLOORS subseconds while DuckDB's
    epoch() keeps them — floor before casting; epoch comparison requires
    the UTC session timezone the driver sets)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    return ev.select(
        "event_id",
        F.date_trunc("month", F.col("ts")).alias("mon"),
        F.add_months(F.col("ts"), 3).alias("plus3m"),
        F.datediff(F.lit("2024-01-01").cast("date"), F.col("ts").cast("date")).alias(
            "to_2024"
        ),
        F.quarter("ts").alias("q"),
        F.dayofweek("ts").alias("dow"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id % 10 AS cohort,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN CAST(round(value * 100) AS BIGINT) END)
                AS BIGINT) AS click_c,
           CAST(sum(CASE WHEN event_type = 'error'
                         THEN CAST(round(value * 100) AS BIGINT) END)
                AS BIGINT) AS error_c,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) END)
                AS BIGINT) AS purchase_c,
           CAST(sum(CASE WHEN event_type = 'signup'
                         THEN CAST(round(value * 100) AS BIGINT) END)
                AS BIGINT) AS signup_c,
           CAST(sum(CASE WHEN event_type = 'view'
                         THEN CAST(round(value * 100) AS BIGINT) END)
                AS BIGINT) AS view_c
    FROM events GROUP BY 1
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-cohort value sums spread across event_type
    columns. The pivot values are passed EXPLICITLY — without them Spark
    runs an extra distinct-collect job to discover the domain, and the
    output schema becomes data-dependent (both unacceptable in a 100 TB
    recurring pipeline). Plans as a single partial→final aggregate with
    one CASE-WHEN branch per pivot value — identical shape to the
    oracle's conditional aggregation."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_c", _cents("value")
    )
    piv = (
        ev.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", types)
        .sum("value_c")
    )
    return piv.select(
        "cohort",
        *[F.col(t).cast("bigint").alias(f"{t}_c") for t in types],
    )


@query(
    "agg_unpivot",
    oracle="""
    SELECT o_orderkey AS orderkey, metric, round(val, 2) AS val FROM (
      SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val
      FROM orders WHERE o_orderkey < 1000
      UNION ALL
      SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE)
      FROM orders WHERE o_orderkey < 1000
    )
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide→long): numeric order metrics into
    (orderkey, metric, val) rows — the inverse reshaping primitive
    (Spark's native ``unpivot``; no join, no shuffle, a pure projection
    + generate)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 1000
    )
    return (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "metric", "val")
        .select(
            F.col("o_orderkey").alias("orderkey"),
            "metric",
            F.round("val", 2).alias("val"),
        )
    )


@query("sample_stratified")
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sampling (``sampleBy``): cap the over-represented
    stratum — the training-data rebalancing primitive (e.g. downsample
    English to parity). Fractions are per-key Bernoulli filters pushed
    into the scan pass: no shuffle, no collect; deterministic under a
    fixed seed but engine-specific, hence rows-only (the semantic
    invariant — per-language counts ≈ fraction × stratum size, exact
    rows ⊂ source — is pinned in pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.35, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    sampled = docs.sampleBy("lang", fractions, seed=42)
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars")
    )


@query(
    "sample_stratified_md5",
    oracle="""
    WITH k AS (
      SELECT lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS bucket,
             CASE lang WHEN 'en' THEN 35 WHEN 'de' THEN 80
                       WHEN 'es' THEN 60 WHEN 'fr' THEN 90
                       WHEN 'zh' THEN 50 ELSE 100 END AS rate_pct
      FROM documents
    )
    SELECT lang, rate_pct, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM k WHERE bucket < rate_pct GROUP BY lang, rate_pct
    """,
)
def sample_stratified_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with an ENGINE-NEUTRAL keep decision — the
    deterministic twin of ``sample_stratified`` (whose ``sampleBy`` is
    seeded but engine-RNG-specific, hence rows-only). Each stratum
    (lang) gets a target rate; a row is kept iff its 60-bit md5 bucket
    (``conv(substring(md5(doc_id),1,15),16,10) % 100`` ≡ DuckDB
    ``('0x'||substr(md5(..),1,15))::BIGINT % 100``) lands under the
    rate — bit-for-bit reproducible across runs, engines, and
    partitionings, which is what makes the driver hash-verify a
    SAMPLING operator end-to-end.

    Scale: the keep predicate is a pure per-row map evaluated at the
    scan (no shuffle, no RNG state); rejected rows never leave the
    input stage, and the summary is one partial-agg'd groupBy on the
    5-value stratum key. At 100 TB this is the production shape for
    reproducible rebalancing — md5 costs ~3× xxhash64 but buys exact
    replay across engines; swap hashes once provenance tooling speaks
    xxhash."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)),1,15),16,10)"
            " as bigint)"
        )
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 35)
        .when(F.col("lang") == "de", 80)
        .when(F.col("lang") == "es", 60)
        .when(F.col("lang") == "fr", 90)
        .when(F.col("lang") == "zh", 50)
        .otherwise(100)
    )
    return (
        docs.select(
            "lang",
            "n_chars",
            bucket.alias("bucket"),
            rate.alias("rate_pct"),
        )
        .where(F.col("bucket") < F.col("rate_pct"))
        .groupBy("lang", "rate_pct")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
    )


@query(
    "sink_partition_overwrite_upsert",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN CAST(round(value * 200) AS BIGINT)
                         ELSE CAST(round(value * 100) AS BIGINT) END)
                AS BIGINT) AS total_c
    FROM events GROUP BY event_type
    """,
)
def sink_partition_overwrite_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Idempotent partition-level upsert via DYNAMIC partition overwrite:
    the incremental re-materialization pattern — a pipeline recomputes
    one partition (here: event_type='click' with doubled value) and
    rewrites ONLY that partition in place; static overwrite mode would
    have wiped every other partition. The read-back aggregate proves the
    untouched partitions survived and the touched one was replaced."""
    out = appcache.tempdir(prefix="events_upsert_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value", "event_type"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    updates = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2
    )
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        updates.write.mode("overwrite").partitionBy("event_type").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(_cents("value")).cast("bigint").alias("total_c"),
    )


@query(
    "scan_csv_malformed",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with corrupt-row quarantine (PERMISSIVE +
    columnNameOfCorruptRecord): orders staged as CSV plus a file of
    garbage lines; unparseable rows land in the corrupt column instead of
    failing the 100 TB job, clean rows re-aggregate to exactly the
    oracle's numbers from parquet. (DROPMALFORMED gives the same result
    without the quarantine column; FAILFAST is the validation mode.)

    Gotcha this query pins: corrupt-record detection interacts with
    COLUMN PRUNING — a downstream aggregate that never references
    o_orderkey lets the parser skip parsing it, so a row whose only
    defect is an unparseable o_orderkey is silently NOT quarantined
    (and with the parser-pruning conf off, short rows are still the only
    extra catch — measured, not just documented). The Spark-documented
    idiom is to CACHE the fully-parsed frame before filtering on the
    corrupt column, which forces every schema column through the parser;
    the eager localCheckpoint then lets us unpersist before returning."""
    import os
    out = appcache.tempdir(prefix="orders_csv_")
    orders = load_table(spark, sf_dir, "orders")
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).csv(out)
    with open(os.path.join(out, "part-zz-corrupt.csv"), "w") as f:
        f.write("not_a_key,F,12.5\n99,O,not_a_price\ngarbage line without commas\n")
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double, "
        "_corrupt string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).csv(out).cache()
    try:
        return (
            back.filter(F.col("_corrupt").isNull())
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum(_cents("o_totalprice")).cast("bigint").alias(
                    "total_c"
                ),
            )
            .localCheckpoint()
        )
    finally:
        back.unpersist()


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT lang, source, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang, source
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (the second columnar format big
    estates actually hold): documents written as ORC, re-read, and
    re-aggregated to the numbers the oracle computes from parquet —
    pushdown/pruning applies to ORC scans the same as parquet."""
    out = appcache.tempdir(prefix="docs_orc_")
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).orc(out)
    back = spark.read.orc(out)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("chars")
    )


@query(
    "sink_json_lines",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema'd source round-trip: orders projected,
    written as JSONL, re-read with an EXPLICIT schema (never inferred —
    inference is a second full scan and types drift), re-aggregated to
    the same numbers the oracle computes from parquet."""
    out = appcache.tempdir(prefix="orders_jsonl_")
    orders = load_table(spark, sf_dir, "orders")
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).json(out)
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).json(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("total_c"),
    )


@query(
    "agg_skew_salted_twostage",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM events GROUP BY event_type
    """,
)
def agg_skew_salted_twostage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation for skewed keys: events has only a
    handful of event_type values, so a direct groupBy funnels each key
    through one reducer. Stage 1 groups on (key, salt=hash(row)%32) —
    fan-out across 32 partials per hot key — stage 2 merges the partials
    on the real key; results are exactly the direct aggregation (the
    oracle IS the unsalted query). At 100 TB this is the manual fallback
    when AQE skew handling can't apply (e.g. pre-shuffle aggregation
    state, not join skew)."""
    events = load_table(spark, sf_dir, "events")
    salted = events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(32))
    )
    stage1 = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("pn"),
        F.sum(_cents("value")).alias("psum_c"),
    )
    return stage1.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("psum_c").cast("bigint").alias("sum_value_c"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75
    FROM events GROUP BY event_type
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event_type (Spark
    `percentile` ≡ DuckDB `quantile_cont`). Exact percentile holds all
    group values in the aggregation buffer — the correctness baseline;
    agg_quantile_sketch is the bounded-memory path."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
    )


@query("agg_quantile_sketch")
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched percentiles: approx_percentile (Greenwald-Khanna) with
    accuracy 1000 — constant memory per group regardless of group size,
    the 100 TB path. Rows-only: sketch outputs are
    implementation-defined; the companion agg_percentiles pins exact
    values against the oracle. The sketch array is unpacked to scalar
    columns (the driver's canonicalizer sorts on values, and array cells
    aren't sortable/hashable in pandas — r2 gate TypeError)."""
    events = load_table(spark, sf_dir, "events")
    sk = events.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.25, 0.5, 0.75), 1000)").alias(
            "pcts"
        ),
        F.count("*").alias("n"),
    )
    return sk.select(
        "event_type",
        F.col("pcts")[0].alias("p25"),
        F.col("pcts")[1].alias("p50"),
        F.col("pcts")[2].alias("p75"),
        "n",
    )


# ---------------------------------------------------------------------------
# Source/sink surface + scalar function suite
# ---------------------------------------------------------------------------
@query(
    "scan_custom_delimiter",
    oracle="""
    SELECT count(*) AS n_records,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def scan_custom_delimiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom record-delimiter scan (reference CustomLineReader.java:135-255,
    `textinputformat.record.delimiter` equivalent = Spark's `lineSep`).

    Round-trip proof: write `documents.text` as one text corpus delimited
    by RS (\\x1e), re-scan with lineSep=RS, and aggregate record count +
    total chars — which must equal the same aggregate computed straight
    from the parquet (the oracle). Splittability caveat encoded in the
    reference (CustomFileInputFormat.java:19-32) applies identically:
    Spark plans splits per file and the lineSep reader handles
    delimiter-straddling records per split."""
    out = appcache.tempdir(prefix="custom_delim_")
    docs = load_table(spark, sf_dir, "documents")
    docs.select("text").write.mode("overwrite").option("lineSep", "\x1e").text(out)
    back = spark.read.option("lineSep", "\x1e").text(out)
    return back.agg(
        F.count("*").alias("n_records"),
        F.sum(F.length("value")).alias("total_chars"),
    )


@query(
    "scalar_fn_suite",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT)     AS prop_k,
           CAST(year(ts) AS INT)                              AS yr,
           CAST(date_trunc('day', ts) AS DATE)                AS day,
           upper(event_type)                                  AS etype_uc,
           CAST(length(event_type) AS INT)                    AS etype_len,
           ROUND(sqrt(abs(value)), 4)                         AS sqrt_val,
           substr(event_type, 1, 3)                           AS etype3,
           concat(event_type, ':', CAST(user_id AS VARCHAR))  AS ek
    FROM events
    """,
)
def scalar_fn_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math/JSON scalar functions over events.

    All JVM-side built-ins inside one WholeStageCodegen project — the
    whole suite is a single narrow map over the scan, no shuffle.
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.year("ts").cast("int").alias("yr"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        F.upper("event_type").alias("etype_uc"),
        F.length("event_type").cast("int").alias("etype_len"),
        F.round(F.sqrt(F.abs(F.col("value"))), 4).alias("sqrt_val"),
        F.substring("event_type", 1, 3).alias("etype3"),
        F.concat_ws(":", "event_type", F.col("user_id").cast("string")).alias("ek"),
    )


@query(
    "sink_xml_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders WHERE o_orderkey % 10 = 0 GROUP BY o_orderstatus
    """,
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip (Spark 4 ships the XML source
    built-in): an orders slice written as row-tagged XML, re-read with an
    EXPLICIT schema, re-aggregated to the oracle's numbers. XML is the
    interchange format log estates still receive from appliances; the
    scan parallelizes per file like any text source, and explicit
    schemas avoid the inference pass."""
    out = appcache.tempdir(prefix="orders_xml_")
    orders = load_table(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.mode("overwrite").format("xml").option("rowTag", "order").save(out)
    back = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double"
        )
        .format("xml")
        .option("rowTag", "order")
        .load(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("total_c"),
    )


@query(
    "join_bloom_runtime",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY c.c_mktsegment
    """,
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter pruned join: a selective predicate on the
    build side (c_acctbal > 9000 keeps ~5% of customers) lets Spark
    inject a bloom filter of the surviving join keys into the fact-table
    scan, so most orders rows are dropped BEFORE the shuffle instead of
    after reaching the join. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~5% that can match.

    Spark's default thresholds target real clusters (application side
    ≥10 GB scan); they are lowered here so the rewrite fires at bench
    scale, the plan is forced through optimization, and the session
    settings are restored — the result is a plain inner join either way
    (tests/test_plans.py pins `might_contain` in the physical plan)."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        # force a shuffle join: broadcast joins get no benefit from a
        # bloom filter (the dim is already hash-probed at the scan)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer").filter(
            F.col("c_acctbal") > 9000
        )
        out = (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(_cents("o_totalprice")).cast("bigint").alias(
                    "total_c"
                ),
            )
        )
        # materialize the optimized plan (runtime-filter injection happens
        # in logical optimization, cached on this DataFrame) while the
        # lowered thresholds are still in effect
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in saved.items():
            conf.set(k, v)


@query(
    "fn_json_variant",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'$.k' AS INT)) AS INT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def fn_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via the Spark 4 VARIANT type: `parse_json`
    once at the scan, then typed `variant_get` path extraction — the
    open-schema ingestion pattern (parse once into a binary-encoded
    variant, bind types per query) that replaces per-query string
    re-parsing of `get_json_object`. At 100 TB the variant column
    parses each props string ONCE however many extractions follow, and
    shredded storage keeps pushdown available."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("p")
    ).select(
        "event_type",
        F.try_variant_get("p", "$.k", "int").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").cast("int").alias("max_k"),
    )


@query(
    "sql_interface",
    oracle="""
    SELECT n_name, count(*) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS total_bal_c
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point (SURVEY.md §3.3: EP1/EP2/EP3 collapse
    into one SparkSession API): driver tables registered as temp views,
    the query expressed in ANSI SQL via `spark.sql` — same Catalyst
    plan, same optimizations as the DataFrame path (the analyzer unifies
    both front ends before optimization)."""
    for t in ("customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT n_name, count(*) AS n_cust,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS total_bal_c
        FROM v_customer JOIN v_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


# ---------------------------------------------------------------------------
# Schema evolution: mergeSchema across parquet batches
# ---------------------------------------------------------------------------
def evolution_path_for_sf(sf_dir: str) -> str:
    """Deterministic staged dir for the two-generation orders parquet
    (v1: 2 columns; v2: +o_totalprice). Path only — writing happens in
    the query (idempotent via _SUCCESS markers)."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return f"/tmp/schema_evo_v1_{(m.group(1) if m else '0.001')}"


DRIVER_EVO_GLOB = driver_path(
    lambda sf: evolution_path_for_sf(sf) + "/*/*.parquet"
)


@query(
    "scan_schema_evolution",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           CAST(count(o_totalprice) AS BIGINT) AS n_with_price,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
    FROM read_parquet('{DRIVER_EVO_GLOB}', union_by_name=true)
    GROUP BY o_orderstatus
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the orders feed
    (an early extract without o_totalprice, a later one with it) unified
    by ``mergeSchema`` — rows from the old generation surface NULL for
    the added column, exactly DuckDB's ``union_by_name`` semantics.

    Scale: schema merge is a FOOTER-only operation (one small task per
    file footer at planning); the data scan itself stays columnar and
    pruned. The alternative — rewriting history whenever a column lands
    — is the thing a 100 TB lake cannot afford; additive evolution +
    merge-on-read is the standard contract."""
    import os

    base = evolution_path_for_sf(sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    gens = {
        "gen1": orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderstatus"
        ),
        "gen2": orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
    }
    for name, df in gens.items():
        out = f"{base}/{name}"
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            df.coalesce(1).write.mode("overwrite").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/gen1", f"{base}/gen2"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.count("o_totalprice").cast("bigint").alias("n_with_price"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("sum_price_c"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustered layout: multi-dimensional data skipping
# ---------------------------------------------------------------------------
_Z_BITS = 10  # two 10-bit dims -> 20-bit z-key


def _zkey_spark(x, y):
    """Unrolled 20-term Morton interleave — plain integer arithmetic that
    stays inside whole-stage codegen (a higher-order fold would not)."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def _zkey_sql(x: str, y: str) -> str:
    return " + ".join(
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )


@appcache.amortized({"sink_zorder_layout"})
def _zorder_docs(spark: SparkSession, sf_dir: str) -> str:
    """The documents table as parquet sorted by z-key."""
    out = appcache.tempdir(prefix="docs_zorder_")
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") % 1024).cast("long")
    zk = _zkey_spark(F.col("n_chars"), bucket)
    (
        docs.select(
            "doc_id", "n_chars", bucket.alias("bucket"), zk.alias("zkey")
        )
        # global sort -> range-partitioned files, each covering a
        # tight z-interval (=> tight per-file min/max on BOTH dims)
        .orderBy("zkey")
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .parquet(out)
    )
    return out


@query(
    "sink_zorder_layout",
    oracle=f"""
    WITH z AS (
      SELECT doc_id, n_chars,
             CAST(doc_id % 1024 AS BIGINT) AS bucket,
             CAST({_zkey_sql('n_chars', '(doc_id % 1024)')} AS BIGINT)
               AS zkey
      FROM documents
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(zkey) AS min_zkey, max(zkey) AS max_zkey
    FROM z
    WHERE n_chars BETWEEN 200 AND 400 AND bucket BETWEEN 100 AND 300
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered parquet layout: docs written sorted by the
    Morton interleave of (n_chars, doc_id%1024), so a 2-D range
    predicate touches a CONTIGUOUS z-range and parquet row-group min/max
    stats skip everything else — the multi-dimensional analogue of
    partition pruning, and what Delta/Iceberg OPTIMIZE ZORDER does for
    100 TB tables whose queries filter on several columns at once. A
    1-D sort on n_chars would interleave doc_id arbitrarily and gut the
    second predicate's skipping; the z-curve bounds BOTH dims per row
    group.

    The read-back applies the 2-D range and aggregates; min/max zkey in
    the output exposes the interleave arithmetic itself to the oracle
    (DuckDB reproduces the bit-twiddling exactly). Only the low 10 bits
    of each dim interleave — values ≥1024 alias in the z-key (both
    engines identically), which degrades skipping for the tail but never
    correctness; a production layout widens the bit budget or quantile-
    buckets the dim first. The write sorts by zkey ONCE per
    (session, sf) — at scale this is the periodic compaction job, not a
    per-query cost."""
    back = spark.read.parquet(_zorder_docs(spark, sf_dir))
    return (
        back.filter(
            F.col("n_chars").between(200, 400)
            & F.col("bucket").between(100, 300)
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("zkey").alias("min_zkey"),
            F.max("zkey").alias("max_zkey"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 pricing summary (the canonical scan-bound aggregate)
# ---------------------------------------------------------------------------
@query(
    "analytics_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_base_price_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS sum_disc_price_e4,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    * (100 + CAST(round(l_tax * 100) AS BIGINT)))
                AS BIGINT) AS sum_charge_e6,
           count(*) AS count_order,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) * 1000000
                // count(*) AS BIGINT) AS avg_qty_e6,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 10000
                // count(*) AS BIGINT) AS avg_price_e6
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def analytics_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): the canonical scan-bound
    aggregate — 6 aggregates over one filtered lineitem pass, grouped by
    a 4-ish-value key.

    Scale: THE partial-aggregation showcase — the map side collapses
    ~every row into ≤ |flag×status| partial rows per task, so the
    exchange moves a few dozen rows regardless of input size; the date
    filter is pushed to the parquet scan. Every money aggregate
    accumulates exact scaled integers (cents / 1e-4 / 1e-6 dollars) and
    the averages are scaled integer floor-divisions of those sums — no
    floating point anywhere, so results are summation-order-free and
    bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    qty = F.round(F.col("l_quantity")).cast("bigint")
    price_c = _cents("l_extendedprice")
    disc_e4 = _rev_e4()
    charge_e6 = disc_e4 * (100 + _cents("l_tax"))
    return (
        f.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("bigint").alias("sum_qty"),
            F.sum(price_c).cast("bigint").alias("sum_base_price_c"),
            F.sum(disc_e4).cast("bigint").alias("sum_disc_price_e4"),
            F.sum(charge_e6).cast("bigint").alias("sum_charge_e6"),
            F.count("*").alias("count_order"),
        )
        .select(
            "*",
            F.expr("sum_qty * 1000000L div count_order").alias("avg_qty_e6"),
            F.expr("sum_base_price_c * 10000L div count_order").alias(
                "avg_price_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Correlated subqueries (Catalyst decorrelation)
# ---------------------------------------------------------------------------
_CORRELATED_SQL = """
    SELECT c_custkey, c_acctbal,
           (SELECT count(*) FROM {orders} o3
             WHERE o3.o_custkey = c.c_custkey) AS n_orders
    FROM {customer} c
    WHERE EXISTS (SELECT 1 FROM {orders} o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 200000)
      AND NOT EXISTS (SELECT 1 FROM {orders} o2
                       WHERE o2.o_custkey = c.c_custkey
                         AND o2.o_orderstatus = 'F')
    """


@query(
    "sql_correlated_subquery",
    oracle=_CORRELATED_SQL.format(customer="customer", orders="orders"),
)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subqueries — EXISTS, NOT EXISTS, and a correlated
    scalar COUNT — run through `spark.sql` from the IDENTICAL SQL text
    the oracle executes (only the view names differ).

    Scale: Catalyst DECORRELATES all three: EXISTS → left-semi join,
    NOT EXISTS → left-anti join, the scalar count → a pre-aggregated
    left outer join — so the plan is three hash joins against one
    orders scan family, not a per-customer-row subquery execution (the
    O(N·M) nested-loop a naive evaluator would run). This is the query
    surface where a declarative engine's optimizer earns its keep at
    100 TB."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        _CORRELATED_SQL.format(customer="v_customer", orders="v_orders")
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): data-driven date spine
# ---------------------------------------------------------------------------
# Recursion advances by WEEK, each step then expands to its (clamped)
# days non-recursively: Spark executes each recursion level as a
# separate internal job (~170 ms/level, measured — data-size
# independent), so a day-step spine paid 30 levels ≈ 5 s while this
# shape pays ⌈span/7⌉ = 5. The recursion carries ``hi`` INSIDE its rows
# (wk(d, hi)) instead of re-joining the 1-row bounds CTE per step —
# the cross joins planned as BroadcastNestedLoopJoin, which the plan
# sweep rightly rejects. The day expansion is the only dialect-
# divergent line: Spark explode(sequence(...)), DuckDB
# unnest(generate_series(...)) — semantics identical (both inclusive).
_RECURSIVE_SQL = """
    WITH RECURSIVE bounds AS (
      SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS hi
      FROM {events}
    ),
    wk(d, hi) AS (
      SELECT lo, hi FROM bounds
      UNION ALL
      SELECT d + INTERVAL 7 DAY, hi FROM wk
      WHERE d + INTERVAL 7 DAY <= hi
    ),
    spine AS (
      SELECT {expand} AS d FROM wk
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, count(*) AS n
      FROM {events} WHERE event_type = 'purchase' AND value > 180
      GROUP BY 1
    )
    SELECT s.d AS day, coalesce(daily.n, 0) AS n_events,
           daily.n IS NULL AS is_gap
    FROM spine s LEFT JOIN daily ON s.d = daily.d
    """

_EXPAND_SPARK = (
    "explode(sequence(d, least(d + INTERVAL 6 DAY, hi), INTERVAL 1 DAY))"
)
_EXPAND_DUCK = (
    "unnest(generate_series(d, least(d + INTERVAL 6 DAY, hi), INTERVAL 1 DAY))"
)


@query(
    "sql_recursive_cte",
    oracle=_RECURSIVE_SQL.format(events="events", expand=_EXPAND_DUCK),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4): a data-driven day spine — anchor at the
    corpus's first day, recurse week-by-week to the last, expand each
    week to its days, LEFT JOIN daily high-value-purchase counts to
    expose gap days. Same SQL text on both engines except the one
    explode/unnest expansion line (dialect spelling).

    Scale: recursion depth is ⌈calendar-span/7⌉ (data-size independent
    — Spark pays a fixed per-level job, so levels are the cost driver,
    not rows); the corpus-sized work is the ordinary daily aggregate
    the spine joins against. This is the declarative replacement for
    rollup_gap_fill's explode(sequence(...)) grid when the spine bounds
    are themselves query-derived."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "v_events_rcte"
    )
    return spark.sql(
        _RECURSIVE_SQL.format(events="v_events_rcte", expand=_EXPAND_SPARK)
    )


@query(
    "analytics_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_c
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue_e4 DESC, c_custkey ASC LIMIT 20
    """,
)
def analytics_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by revenue lost to returned
    items — fact-fact join (orders ⋈ lineitem) carrying customer and
    nation dims, grouped at customer grain with a global top-k.

    Scale: the returnflag filter pushes to the lineitem scan (~1/3
    selectivity) BEFORE the orderkey shuffle; nation is a broadcast dim,
    but customer SCALES WITH SF, so its join carries no hint — AQE
    broadcasts it at bench scale and falls back to a custkey shuffle
    join on a real cluster; the aggregate is partial-combined at
    customer grain (bounded by |customer|) and the final 20 rows come
    from a TakeOrderedAndProject, never a global sort. Revenue
    accumulates exact integer 1e-4 dollars so per-customer summation
    order can't skew the hash."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "nation", "c_acctbal")
        .agg(F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"))
    )
    return (
        rev.select(
            "c_custkey",
            "c_name",
            "nation",
            "revenue_e4",
            _cents("c_acctbal").alias("acctbal_c"),
        )
        .orderBy(F.desc("revenue_e4"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "analytics_large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 200
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_c,
           CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
             AS sum_qty
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN big        ON big.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice
    ORDER BY totalprice_c DESC, o_orderkey ASC LIMIT 20
    """,
)
def analytics_large_volume_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18-shaped (large-volume customers): the HAVING-filtered
    IN-subquery pattern — orders qualify by an AGGREGATE over their own
    lineitems, then the qualifying keys drive the detail join.

    Scale (r15): the oracle's detail re-join is algebraically
    redundant — the final per-order sum_qty is an aggregate over
    exactly the lineitems that produced the qualifying sum, so ONE
    groupBy(l_orderkey) computes both the 200-quantity gate and
    sum_qty, and lineitem is scanned once instead of twice (the two
    consumers of the old `big` aggregate sat on structurally different
    join sides, so ReusedExchange never fired). The filtered per-order
    aggregate (~0.3% of orders) then drives the orders/customer joins,
    which AQE broadcasts at bench scale; both sums are exact integer
    accumulations so the fused form is hash-identical. Customer scales
    with SF: no broadcast hint (AQE decides)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("q"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint"))
            .cast("bigint")
            .alias("sum_qty"),
        )
        .where(F.col("q") > 200)
        .select("l_orderkey", "sum_qty")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            _cents("o_totalprice").alias("totalprice_c"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice_c"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Lateral join (per-row correlated table subquery)
# ---------------------------------------------------------------------------
_LATERAL_SQL = """
    SELECT n.n_name AS nation, c.c_name, c.acctbal
    FROM {nation} n, LATERAL (
      SELECT c_name, round(c_acctbal, 2) AS acctbal
      FROM {customer}
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name ASC LIMIT 3) c
    """


@query(
    "sql_lateral_join",
    oracle=_LATERAL_SQL.format(nation="nation", customer="customer"),
)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated table subquery (top-3 customers by balance per
    nation) through `spark.sql` — the per-row-subquery surface beyond
    sql_correlated_subquery's scalar/EXISTS forms, IDENTICAL SQL text on
    both engines (only view names differ).

    Scale: Catalyst decorrelates the lateral LIMIT into a rank-window
    over a single customer scan partitioned by the correlation key —
    one shuffle on c_nationkey, never a per-nation-row subquery
    execution; the nation probe is a broadcast join against the
    windowed result. The total (acctbal DESC, c_name) order inside the
    lateral subquery makes the selected top-3 set deterministic, so the
    hash compare is exact."""
    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_lat_{t}")
    return spark.sql(
        _LATERAL_SQL.format(nation="v_lat_nation", customer="v_lat_customer")
    )


@query(
    "analytics_nation_trade_volume",
    oracle="""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(o.o_orderdate) AS INT) AS l_year,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem l
      JOIN orders o    ON o.o_orderkey = l.l_orderkey
      JOIN supplier s  ON s.s_suppkey = l.l_suppkey
      JOIN customer c  ON c.c_custkey = o.o_custkey
      JOIN nation ns   ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc   ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
    GROUP BY ns.n_name, nc.n_name, year(o.o_orderdate)
    """,
)
def analytics_nation_trade_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q7-shaped: cross-nation trade volume — revenue between
    every (supplier nation, customer nation) pair per order year,
    excluding domestic trade. The two-role dimension pattern: nation
    joins the fact twice under different keys.

    Scale: the only wide join is lineitem ⋈ orders on orderkey (both
    fact-sized); supplier scales with SF but is 100× smaller than the
    fact — un-hinted, so AQE broadcasts it at bench scale and shuffles
    on a cluster; the two nation probes broadcast (tiny, each aliased
    independently so both build sides are one-copy); the aggregate
    keyspace is |nation|²·|years| — partial-agg'd to almost nothing
    map-side. Revenue accumulates as exact integer 10^-4 dollars
    (price cents × (100 − discount basis points)) so the sum is
    order-free — the r9 driver proved the double-sum form flips on
    summation order (CORRECTNESS_r09 hash-FAIL)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("int").alias("l_year"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            )
            .cast("bigint")
            .alias("revenue_e4")
        )
    )


@query(
    "analytics_promo_revenue_share",
    oracle="""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                                       * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                                  ELSE 0 END)
                 / sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l.l_discount * 100) AS BIGINT))), 4)
             AS promo_pct,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p   ON p.p_partkey = l.l_partkey
    GROUP BY date_trunc('month', o.o_orderdate)
    """,
)
def analytics_promo_revenue_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q14-shaped: monthly promo revenue share — the
    conditional-aggregate-ratio pattern (one pass computes both the
    CASE-gated numerator and the total denominator; no self-join, no
    second scan).

    Scale: part scales with SF but is fact/30 — un-hinted join, AQE
    decides; the single wide shuffle is lineitem ⋈ orders on orderkey;
    the ratio divides two partial-agg'd sums inside one |months|-row
    aggregate. Both sums accumulate exact integer 1e-4 dollars, so the
    percent is a rounded ratio of identical exact integers —
    order-free on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev_e4()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("bigint")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
            F.sum(rev).cast("bigint").alias("revenue_e4"),
        )
    )


@query(
    "window_distribution_suite",
    oracle="""
    SELECT event_id,
           event_type,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(nth_value(event_id, 2) OVER (
             PARTITION BY event_type ORDER BY value DESC, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS BIGINT) AS second_best
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
    """,
)
def window_distribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family window functions — ntile, percent_rank,
    cume_dist, and an unbounded-frame nth_value — over a (value DESC,
    event_id) total order per event_type, completing the analytic
    surface beyond window_rank_analytic's rank/lag family.

    Scale: all four share ONE shuffle+sort on the window spec (Catalyst
    fuses same-spec window functions into a single Window operator);
    the total order makes every output deterministic, so the driver
    hash-verifies ntile bucket boundaries and the distribution ratios
    exactly (rounded at 1e-6 — they are ratios of small exact ints)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("event_id", 2).over(wf).cast("bigint").alias(
            "second_best"
        ),
    )


@query(
    "join_hint_shuffle_hash",
    oracle="""
    SELECT o.o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sum_price_c
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINT surface: the same fact-fact join as
    join_inner_hash forced through ``hint("shuffle_hash")`` — Spark
    builds a per-partition hash map instead of sorting both sides
    (SortMergeJoin), the right call when one side is modestly sized per
    partition and sort cost dominates. The optimizer obeys hints it can
    satisfy, so this pins the API end-to-end (plan asserts
    ShuffledHashJoin in tests/test_round5_ops.py).

    Scale: identical shuffle volume to the sort-merge plan (both
    exchange on orderkey) — the hint trades sort CPU for build-map
    memory; at 100 TB you'd leave the choice to AQE unless profiling
    shows the sort dominating, which is exactly when this one-line
    hint pays."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    return (
        li.join(
            orders.hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(_cents("l_extendedprice")).cast("bigint").alias(
                "sum_price_c"
            ),
        )
    )


@query(
    "fn_try_error_safe",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.plan') AS BIGINT)
             AS plan_num,
           CASE WHEN (event_id % 10) = 0 THEN NULL
                ELSE round(event_id::DOUBLE / (event_id % 10), 4)
                END AS per_unit,
           TRY_CAST(event_type AS BIGINT) AS bad_cast
    FROM events WHERE user_id < 50
    """,
)
def fn_try_error_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface — try_cast / try_divide: malformed
    input and division-by-zero yield NULL instead of failing the job,
    the ANSI-mode-compatible posture a 100 TB batch needs (one bad row
    must not kill a 10-hour job; quarantine via IS NULL, don't crash).
    DuckDB twin: TRY_CAST plus an explicit zero-guard CASE (same NULL).
    The division operands are small ints, so the quotient's 4-decimal
    rounding never sits on a representation-dependent half — the
    hash-compare checks the NULL semantics, not float luck.

    Scale: pure codegen projections on a pruned scan — zero shuffles."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    return ev.select(
        "event_id",
        F.expr(
            "try_cast(get_json_object(props, '$.plan') AS BIGINT)"
        ).alias("plan_num"),
        F.round(
            F.try_divide(
                F.col("event_id").cast("double"), F.col("event_id") % 10
            ),
            4,
        ).alias("per_unit"),
        F.expr("try_cast(event_type AS BIGINT)").alias("bad_cast"),
    )


def multiline_json_path_for_sf(sf_dir: str) -> str:
    """Deterministic staged path for the multiline-JSON orders document
    (ONE pretty-printed JSON array per file — the API-dump shape)."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return f"/tmp/json_multiline_v2_{(m.group(1) if m else '0.001')}"


DRIVER_MLJSON = driver_path(multiline_json_path_for_sf)


@query(
    "scan_json_multiline",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
    FROM read_json('{DRIVER_MLJSON}/*.json', format='array')
    GROUP BY o_orderstatus
    """,
)
def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline JSON DOCUMENT scan (`multiLine=true`): one
    pretty-printed JSON array per file — the API-dump / config-export
    shape, vs sink_json_lines' splittable JSONL. The query stages the
    document once (idempotent) then aggregates through the JSON reader;
    the DuckDB twin reads the same staged files with format='array'.

    Scale: a multiline JSON file is NOT splittable (the parser needs
    the whole document), so parallelism = #files — exactly why the
    docstring-level guidance is JSONL for anything big; this surface
    exists because upstream dumps arrive in array form and the engine
    must ingest them (per-file parallelism, converted to
    parquet/JSONL at the ingest boundary). Aggregation after the scan
    is one partial-agg'd shuffle on the 3-value status key."""
    import os

    base = multiline_json_path_for_sf(sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if not os.path.isdir(base):
        # Stage ONCE, atomically: executors serialize the rows (ordinary
        # JSONL write, 2 parts); the driver then wraps each part file
        # into an array document as an opaque line-level text transform —
        # no row ever materializes driver-side. Everything is built in a
        # PROCESS-UNIQUE temp dir and os.rename()d into place, so two
        # concurrent processes (entry() prestage + bench/pytest) can race
        # here and a reader still never sees a truncated document: the
        # published dir appears whole or not at all, and the loser of the
        # rename race just discards its copy.
        import glob as _glob
        import shutil

        build = f"{base}.build.{os.getpid()}"
        shutil.rmtree(build, ignore_errors=True)
        os.makedirs(build)
        tmp = f"{build}/_jsonl"
        orders.repartition(2).write.mode("overwrite").json(tmp)
        for i, part in enumerate(sorted(_glob.glob(f"{tmp}/part-*.json"))):
            with open(part) as src, open(
                os.path.join(build, f"doc{i}.json"), "w"
            ) as dst:
                dst.write("[\n")
                first = True
                for line in src:
                    line = line.strip()
                    if not line:
                        continue
                    if not first:
                        dst.write(",\n")
                    dst.write(line)
                    first = False
                dst.write("\n]")
        shutil.rmtree(tmp)
        try:
            os.rename(build, base)
        except OSError:
            # Another process published first — its copy is identical
            # (deterministic content); keep theirs, drop ours.
            shutil.rmtree(build, ignore_errors=True)
    df = (
        spark.read.option("multiLine", "true")
        .json(f"{base}/*.json")
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("sum_price_c"),
    )


@query(
    "join_null_safe",
    oracle="""
    WITH f AS (
      SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             value
      FROM events
    ), d AS (
      SELECT DISTINCT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               AS k
      FROM events WHERE user_id < 5
    )
    SELECT f.k, count(*) AS n,
           CAST(sum(CAST(round(f.value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_c
    FROM f JOIN d ON f.k IS NOT DISTINCT FROM d.k
    GROUP BY f.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM): the fact
    side's NULL keys (events without a props.k) MATCH the dim side's
    NULL row instead of silently dropping — the semantic a plain
    equi-join gets wrong when the join key is derived from optional
    fields (every real log join). Spark plans `<=>` as an ordinary
    hash join (null-safe keys hash like values — no nested loop), so
    the null bucket is just another key.

    Scale: dim is a distinct over a user slice (broadcastable; AQE
    decides), fact side aggregates partial-combined per key; the NULL
    key is one bucket — if NULLs dominate (most rows lack the field),
    that bucket is the classic skew key and the salting/AQE-skew story
    applies to it exactly as to any hot value."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr(
        "try_cast(get_json_object(props, '$.k') AS BIGINT)"
    )
    fact = ev.select(k.alias("k"), "value")
    dim = (
        ev.where(F.col("user_id") < 5)
        .select(k.alias("dk"))
        .distinct()
    )
    return (
        fact.join(dim, fact["k"].eqNullSafe(dim["dk"]))
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum(_cents("value")).cast("bigint").alias("sum_value_c"),
        )
    )


@query(
    "agg_histogram_fixed",
    oracle="""
    SELECT event_type,
           CAST(least(floor(value / 25.0), 19) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events
    GROUP BY event_type, least(floor(value / 25.0), 19)
    """,
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram per event type (20 × width-25 buckets, last
    bucket open-ended) — the distribution profile behind every
    dashboard latency/value chart, computed as plain arithmetic binning
    so it is exact and engine-portable (Spark's histogram_numeric and
    DuckDB's histogram() are both engine-specific estimators; floor
    binning is the deterministic common core, and at 100 TB the
    arithmetic-bin GROUP BY is also the FASTER path — partial aggs
    collapse to ≤ |types|·20 rows per task map-side).

    Scale: one scan, one partial-combined shuffle into a tiny keyspace;
    bucket bounds are data-independent so histograms from different
    days/partitions merge by key — the mergeability sketches promise,
    for free, because the bins are fixed."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast(
        "bigint"
    )
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT c.c_mktsegment AS segment, count(*) AS n,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 1000
    GROUP BY c.c_mktsegment
    ORDER BY sum_price_c DESC, segment ASC LIMIT 5
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 / GoogleSQL `|>`): the same
    filter → join → aggregate → order/limit pipeline expressed as
    sequential pipe operators — the linear-reading SQL dialect for
    pipeline-shaped queries. DuckDB has no pipe syntax, so the oracle
    is the standard-SQL equivalent; Catalyst compiles both to the SAME
    logical plan (pipe operators are pure surface syntax), which is
    exactly what the hash compare certifies.

    Scale: identical to the standard form — pushed filter, AQE-decided
    customer join, partial-agg'd segment keyspace, TakeOrdered."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_pipe_{t}")
    return spark.sql(
        """
        FROM v_pipe_orders AS o
        |> WHERE o.o_totalprice > 1000
        |> JOIN v_pipe_customer AS c ON c.c_custkey = o.o_custkey
        |> AGGREGATE count(*) AS n,
                     CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS sum_price_c
           GROUP BY c.c_mktsegment AS segment
        |> ORDER BY sum_price_c DESC, segment ASC
        |> LIMIT 5
        """
    )


@query(
    "fn_array_suite",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(lower(text), ' ') AS ws,
             string_split(lower(source), '_') AS ss
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(len(ws) AS INT) AS n_words,
           CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
           array_to_string(list_sort(list_distinct(ss)), ',') AS src_sorted,
           array_to_string(
             list_sort(list_distinct(list_concat(ss, ['doc']))), ','
           ) AS src_union,
           coalesce(array_to_string(
             list_sort(list_filter(list_distinct(ws), w -> len(w) > 6)), ','
           ), '') AS long_words,
           CAST(coalesce(list_position(ws, 'the'), 0) AS INT) AS pos_the,
           CAST(len(list_intersect(list_distinct(ws), list_distinct(ss)))
                AS INT) AS n_shared
    FROM t
    """,
)
def fn_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface — size, array_distinct, array_sort,
    array_union, filter (higher-order), array_position,
    array_intersect — the collection-manipulation family the dedup and
    packing operators use internally, exposed as a verified suite with
    DuckDB list_* twins (outputs canonicalized: sorted + joined, so the
    hash is order-law-insensitive where the engines' preserve-order
    semantics differ, e.g. array_union's first-occurrence order).

    Scale: every function is a codegen expression over the row's own
    array — zero shuffles, embarrassment of parallelism; the doc_id
    filter is pushed to the scan."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    )
    ws = F.split(F.lower("text"), " ")
    ss = F.split(F.lower("source"), "_")
    t = docs.select("doc_id", ws.alias("ws"), ss.alias("ss"))
    return t.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
        F.array_join(
            F.array_sort(F.array_distinct("ss")), ","
        ).alias("src_sorted"),
        F.array_join(
            F.array_sort(F.array_union("ss", F.array(F.lit("doc")))), ","
        ).alias("src_union"),
        F.array_join(
            F.array_sort(
                F.filter(
                    F.array_distinct("ws"), lambda w: F.length(w) > 6
                )
            ),
            ",",
        ).alias("long_words"),
        F.coalesce(
            F.array_position("ws", "the").cast("int"), F.lit(0)
        ).alias("pos_the"),
        F.size(
            F.array_intersect(
                F.array_distinct("ws"), F.array_distinct("ss")
            )
        ).alias("n_shared"),
    )


@query(
    "fn_map_suite",
    oracle="""
    WITH g AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events WHERE user_id < 100 GROUP BY user_id, event_type
    ), m AS (
      SELECT user_id,
             map(list(event_type ORDER BY event_type),
                 list(n ORDER BY event_type)) AS mp
      FROM g GROUP BY user_id
    )
    SELECT user_id,
           CAST(cardinality(mp) AS INT) AS n_types,
           coalesce(mp['click'][1], 0) AS n_click,
           array_to_string(
             list_sort(list_transform(map_entries(mp),
                                      e -> e.key || '=' || e.value)), ','
           ) AS entries,
           CAST(len(list_filter(map_values(mp), v -> v >= 5)) AS INT)
             AS n_hot
    FROM m
    """,
)
def fn_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function surface — map_from_entries over grouped structs,
    size, element_at, map_entries, map_filter (higher-order) — the
    per-key-dictionary family (feature maps, per-type counters) with
    DuckDB map twins. Entries canonicalize to a sorted k=v string, so
    the hash ignores both engines' internal map order; the absent-key
    probe coalesces to 0 on both sides.

    Scale: one partial-agg'd (user, type) count, one user-keyed
    collect into a bounded (|event_type|-entry) map — maps stay small
    by construction; everything after the two shuffles is per-row
    codegen."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    g = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = g.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("mp")
    )
    entries = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries("mp"),
                lambda e: F.concat(
                    e["key"], F.lit("="), e["value"].cast("string")
                ),
            )
        ),
        ",",
    )
    return m.select(
        "user_id",
        F.size("mp").alias("n_types"),
        F.coalesce(F.element_at("mp", "click"), F.lit(0)).alias("n_click"),
        entries.alias("entries"),
        F.size(
            F.map_filter("mp", lambda k, v: v >= 5)
        ).alias("n_hot"),
    )


# ---------------------------------------------------------------------------
# File-level data skipping (min/max manifest, the lakehouse pattern)
# ---------------------------------------------------------------------------
def manifest_dir_for_sf(sf_dir: str) -> str:
    """Deterministic staged path for the range-clustered orders copy +
    its min/max file manifest."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return f"/tmp/orders_manifest_v1_{(m.group(1) if m else '0.001')}"


def _manifest_staged(spark: SparkSession, sf_dir: str) -> str:
    """Stage once, atomically (process-unique build dir + rename): the
    orders table range-clustered into 8 parquet files by o_orderdate,
    plus a `manifest` parquet of per-file (file, min_dt, max_dt, n) —
    exactly the file-statistics tables Delta/Iceberg maintain in their
    transaction logs."""
    import os
    import shutil

    base = manifest_dir_for_sf(sf_dir)
    if os.path.isdir(base):
        return base
    build = f"{base}.build.{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    orders.repartitionByRange(8, "o_orderdate").write.mode(
        "overwrite"
    ).parquet(f"{build}/data")
    back = spark.read.parquet(f"{build}/data")
    # Manifest stores RELATIVE file names (the staged dir is renamed
    # into place after the build, and a real table's manifest must
    # survive relocation anyway).
    back.groupBy(
        F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias("file")
    ).agg(
        F.min("o_orderdate").alias("min_dt"),
        F.max("o_orderdate").alias("max_dt"),
        F.count("*").alias("n_rows"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{build}/manifest")
    try:
        os.rename(build, base)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)
    return base


def manifest_pruned_files(
    spark: SparkSession, sf_dir: str, lo=None, hi=None
) -> tuple[list, int]:
    """(qualifying data files, total file count) for an o_orderdate
    interval predicate, decided from the manifest ALONE — O(#files)
    metadata rows, no data scan."""
    base = _manifest_staged(spark, sf_dir)
    man = spark.read.parquet(f"{base}/manifest")
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("max_dt") >= F.lit(lo).cast("timestamp"))
    if hi is not None:
        cond = cond & (F.col("min_dt") < F.lit(hi).cast("timestamp"))
    total = man.count()
    files = [
        f"{base}/data/{r['file']}"
        for r in man.where(cond).select("file").collect()
    ]
    return files, total


@query(
    "scan_manifest_pruned",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
    FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY o_orderstatus
    """,
)
def scan_manifest_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level DATA SKIPPING via a min/max manifest — the
    Delta/Iceberg statistics pattern built from primitives: the orders
    table is staged once, range-clustered by o_orderdate into 8 files,
    with a per-file (min, max, rows) manifest; an interval query then
    consults the MANIFEST to decide which files can contain matches and
    reads only those, with the residual predicate still applied (file
    stats prove absence, never presence). The oracle runs the same
    interval aggregate over the ORIGINAL table — certifying that
    pruning lost nothing.

    Scale: this is the 100 TB skipping story parquet row-group stats
    alone can't give you — the manifest is O(#files) metadata rows, so
    a 1000-file-per-day table answers "which files overlap this week"
    from kilobytes of stats instead of listing+footer-reading every
    file; the driver-side file-list collect is bounded control data
    (#files), the sanctioned pattern. Clustering (repartitionByRange)
    is what makes the stats selective — unsorted data gives every file
    the full value range and prunes nothing (same reason Z-order
    exists: see sink_zorder_layout for the multi-column variant).
    Pruning effectiveness (files actually skipped, results identical to
    the full scan) is pinned in tests/test_manifest_pruning.py."""
    files, _ = manifest_pruned_files(
        spark, sf_dir, lo=None, hi="1996-01-01"
    )
    df = spark.read.parquet(*files).where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("sum_price_c"),
    )


@query(
    "window_time_range_rolling",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS sum_1h_c
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RANGE window frame: per-user rolling 1-hour event count and
    value sum — the RANGE-frame sibling of window_rank_analytic's ROWS
    frames. A ROWS frame counts a fixed number of rows; a RANGE frame
    keyed on event time expresses "the last hour" regardless of how
    many events it holds — the batch form of the sliding stream window
    (stream_window_sliding), and the alerting primitive behind
    kdc_failed_auth_burst generalized to arbitrary aggregates.

    The frame bound is numeric microseconds (``unix_micros`` ⇄ DuckDB
    ``epoch_us``, both exact integers — the module-header timestamp
    equivalence), so the frame edge is microsecond-exact in both
    engines and RANGE peers (equal timestamps) group identically.

    Scale: one shuffle on user_id + one sort per partition; the running
    frame is computed incrementally by the window operator (add/evict
    at the frame edges), never by re-scanning the hour — per-user cost
    is linear in that user's events, the same skew profile as every
    user-keyed window here."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1000000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.sum(_cents("value")).over(w).cast("bigint").alias("sum_1h_c"),
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT TRY_CAST(json_extract_string(props, '$.k')
                                   AS BIGINT)) AS n_campaigns,
           count(*) FILTER (value > 50) AS n_big,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (value > 50) AS BIGINT) AS sum_big_c
    FROM events GROUP BY event_type
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE exact count-distincts + FILTERed aggregates in ONE
    groupBy — the plan-shape stressor: Catalyst rewrites n distinct
    aggregates over different children into an Expand (one row
    replicated per distinct group) + two-stage aggregation, so the
    query costs one widened shuffle instead of n self-joins; the
    conditional aggregates ride the same pass as filter-wrapped
    children (Spark's ``F.count(when(...))`` ≡ SQL FILTER).

    Scale: Expand multiplies shuffle rows by the number of DISTINCT
    children (×2 here) — the documented trade; when a distinct column's
    cardinality explodes at 100 TB, swap exact distinct for
    approx_count_distinct (distinct_exact_approx measures that gap) and
    the Expand collapses back to one partial-agg'd pass."""
    ev = load_table(spark, sf_dir, "events")
    big = F.col("value") > 50
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(
            F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
        ).alias("n_campaigns"),
        F.count(F.when(big, 1)).alias("n_big"),
        F.sum(F.when(big, _cents("value"))).cast("bigint").alias(
            "sum_big_c"
        ),
    )


@query(
    "agg_cube_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() indicators — the full 2^n grouping-set
    lattice plus the metadata that lets a consumer tell a NULL **data**
    value from a NULL **subtotal** placeholder (the reason GROUPING()
    exists; ROLLUP's linear prefix chain is agg_grouping_sets). Spark
    and DuckDB agree bit-for-bit on the indicator definition, so the
    whole lattice hash-verifies.

    Scale: like rollup, CUBE compiles to ONE Expand (×4 here: every
    row replicated per grouping set) + a single two-stage
    HashAggregate — one widened shuffle for all 4 sets, never one job
    per set; at high set counts (2^n) the Expand factor is the
    documented cost knob and partial aggregation still collapses
    map-side."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("total_c"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
        "n", "total_c",
    )


@query(
    "fn_bitwise_suite",
    oracle="""
    SELECT event_type,
           bit_and(event_id % 256) AS band,
           bit_or(event_id % 256) AS bor,
           bit_xor(event_id % 256) AS bxor,
           CAST(sum(bit_count(((event_id % 256) << 2) | (user_id % 16)))
                AS BIGINT) AS sum_bits,
           CAST(sum((event_id % 256) >> 3) AS BIGINT) AS sum_shr
    FROM events GROUP BY event_type
    """,
)
def fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function surface: per-row shifts / masks / popcount and
    the bit_and / bit_or / bit_xor AGGREGATES (flag-set intersection
    and union — the permission-mask and feature-flag rollup
    primitives). Everything is integer arithmetic, so the suite
    hash-verifies exactly.

    Scale: pure codegen projections + one partial-agg'd groupBy on the
    5-value type key; bitwise aggregates are trivially mergeable
    (map-side combine), the property that makes them cheap fleet-wide
    rollups at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    b = F.col("event_id") % 256
    return ev.groupBy("event_type").agg(
        F.expr("bit_and(event_id % 256)").alias("band"),
        F.expr("bit_or(event_id % 256)").alias("bor"),
        F.expr("bit_xor(event_id % 256)").alias("bxor"),
        F.sum(
            F.bit_count(
                F.shiftleft(b, 2).bitwiseOR(F.col("user_id") % 16)
            )
        ).cast("bigint").alias("sum_bits"),
        F.sum(F.shiftright(b, 3)).cast("bigint").alias("sum_shr"),
    )


@query(
    "fn_struct_suite",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             struct_pack(status := o_orderstatus,
                         cents := CAST(round(o_totalprice * 100) AS BIGINT),
                         who := struct_pack(cust := o_custkey,
                                            prio := o_orderpriority))
               AS rec
      FROM orders WHERE o_orderkey < 1000
    )
    SELECT o_orderkey,
           rec.status AS status,
           rec.cents AS cents,
           rec.who.cust AS cust,
           rec.who.prio AS prio,
           to_json(struct_pack(status := rec.status, cents := rec.cents))
             AS js
    FROM s
    """,
)
def fn_struct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCT surface, completing the complex-type matrix next to
    fn_array_suite / fn_map_suite: named_struct construction, nested
    structs, field extraction through two levels, and to_json
    serialization (monetary value carried as integer CENTS in the
    struct so the JSON text is float-format-independent across
    engines — the same integer-units trick as
    events_attribution_linear).

    Scale: structs are columnar fiction — Catalyst flattens field
    accesses back to the underlying columns at optimization time, so
    this whole suite is one codegen projection over a pruned scan; only
    serialization (to_json) materializes the nested shape."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 1000
    )
    rec = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderpriority").alias("prio"),
        ).alias("who"),
    )
    s = orders.select("o_orderkey", rec.alias("rec"))
    return s.select(
        "o_orderkey",
        F.col("rec.status").alias("status"),
        F.col("rec.cents").alias("cents"),
        F.col("rec.who.cust").alias("cust"),
        F.col("rec.who.prio").alias("prio"),
        F.to_json(
            F.struct(
                F.col("rec.status").alias("status"),
                F.col("rec.cents").alias("cents"),
            )
        ).alias("js"),
    )


@query(
    "analytics_revenue_forecast",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
             AS revenue_e4,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def analytics_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pure scan-aggregate: what revenue would a
    discount-band change have touched. No join, no groupBy key: ONE
    pass with every predicate (date range, discount band, quantity cap)
    pushed into the parquet scan and a single global partial→final
    aggregate. Revenue accumulates as exact integers (price cents ×
    discount basis points), so the sum is order-free across engines —
    the float product would land on rounding boundaries.

    Scale: the canonical predicate-pushdown benchmark — at 100 TB the
    scan reads only 3 columns and row groups whose min/max stats admit
    the date range (parquet row-group skipping; file-level skipping is
    scan_manifest_pruned), and the aggregate ships one partial row per
    task."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.round(
        F.col("l_discount") * 100
    ).cast("bigint")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("bigint").alias("revenue_e4"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "analytics_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def analytics_late_shipment_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI join: orders
    in a quarter-window with at least one line item shipped >60 days
    after the order date, counted per priority (the order-fulfillment
    SLA report). The correlated EXISTS (equality on orderkey + a
    non-equi date condition referencing BOTH sides) is exactly the
    shape engines must decorrelate rather than re-execute per row.

    Scale: Catalyst rewrites the subquery to one semi-join on
    l_orderkey with the date comparison as a residual — each order is
    emitted at most once no matter how many qualifying lines (semi-join
    short-circuit, no dedup pass); the narrow date-filtered orders side
    drives, the lineitem probe prunes to 2 columns. One join shuffle
    (or broadcast under AQE) + one 5-value groupBy."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    sel = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    late = sel.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


@query(
    "analytics_disjunctive_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def analytics_disjunctive_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 shape — DISJUNCTIVE join predicates: revenue over an
    OR of three (brand, size-range, quantity-range) baskets. The trap
    shape for optimizers: the OR spans both join sides, so a naive plan
    evaluates it post-join over everything; the right plan extracts the
    common equi-key (partkey) for the join and derives single-side
    prefilters from the disjunction (brand ∈ {1,2,3}, quantity ≤ 30 —
    the union bounds of each side's branches) so both inputs shrink
    BEFORE the join and the full OR runs only as the residual.
    Revenue in exact integer units (cents × (100 − discount bp)) keeps
    the aggregate order-free.

    Scale: part is the dimension → broadcast hash join on partkey;
    Catalyst's constraint propagation emits the derived IN/range
    prefilters into both scans (visible as PushedFilters: In(p_brand)
    and quantity bounds), which is what keeps the probe side from
    reading every basket-ineligible row group at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
    basket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return j.where(basket).agg(
        F.sum(rev).cast("bigint").alias("revenue_e4"),
        F.count("*").alias("n_lines"),
    )


@query(
    "analytics_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type,
           count(DISTINCT l.l_suppkey) AS n_suppliers
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type NOT LIKE '%anodized%'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type
    """,
)
def analytics_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape — supplier diversity per (brand, type) with a
    NOT IN exclusion list: how many distinct suppliers ship each
    catalog segment, excluding one brand, a type pattern, and
    complaint-listed suppliers (negative balance). Exercises NOT IN →
    anti-join decorrelation stacked under a distinct aggregate.

    Scale: the exclusion subquery is a tiny broadcast (suppliers in
    deficit) anti-joined before anything widens; part is the broadcast
    dimension; the distinct count rides the (brand, type) shuffle with
    a per-group partial distinct. NOT IN's null trap is avoided by
    construction (s_suppkey is non-null) — Spark and DuckDB agree on
    the 3-valued semantics either way because the subquery yields no
    NULLs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type"
    ).where(
        (F.col("p_brand") != "Brand#5")
        & ~F.col("p_type").contains("anodized")
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


@query(
    "analytics_small_qty_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_c,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def analytics_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated SCALAR AGGREGATE subquery: revenue
    from line items ordering less than half the part's average quantity
    (the small-lot-detection report). Expressed through ``spark.sql``
    with the correlation intact: Catalyst decorrelates the per-part avg
    into ONE grouped aggregate joined back on partkey — linear in
    lineitem, never a per-row re-scan. The threshold comparison is
    float-deterministic across engines: the per-part quantity sum is an
    exact integral double and avg's single division yields bit-identical
    thresholds; revenue itself sums integer cents.

    Scale: the decorrelated plan is aggregate + equi-join — the
    textbook reason engines decorrelate (a naive correlated execution
    is O(|lineitem|²/parts)); with AQE the tiny Brand#1 side broadcast-
    joins the per-part averages."""
    for t in ("lineitem", "part"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_c,
               count(*) AS n_lines
        FROM v_lineitem l JOIN v_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity) FROM v_lineitem l2
            WHERE l2.l_partkey = l.l_partkey
          )
        """
    )


@query(
    "analytics_waiting_supplier",
    oracle="""
    WITH l AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY) AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT l_suppkey) FILTER (late) AS n_late
      FROM l GROUP BY l_orderkey
    )
    SELECT s.s_name, count(DISTINCT l.l_orderkey) AS n_waiting
    FROM l
    JOIN per_order po ON po.l_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.late AND po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    """,
)
def analytics_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the sole-blocker report: suppliers who were
    the ONLY late shipper on a finalized multi-supplier order. The
    original phrases this as EXISTS (another supplier on the order)
    AND NOT EXISTS (another LATE supplier) — two correlated subqueries
    three levels deep. The scale-honest rewrite used here computes each
    order's (distinct suppliers, distinct late suppliers) ONCE in a
    grouped aggregate and turns both EXISTS into cheap predicates
    (n_supp > 1, n_late = 1) on the joined-back row — one aggregation
    + two equi-joins instead of two nested probes per line item, the
    decorrelation engines aspire to and a pipeline author can guarantee
    by construction.

    Scale (r15): everything keys on l_orderkey — and the per-order
    distinct-supplier counts are ORDER-PARTITIONED WINDOW aggregates
    (size(collect_set(..)) over the orderkey window; countDistinct is
    not a window function but the set is per-order-bounded), so the
    old aggregate + join-back — which executed the lineitem ⋈ orders
    join TWICE (structurally different sides, no ReusedExchange) —
    collapses to ONE pass over one orderkey exchange. Late flags are
    computed once at the scan join; the supplier-name broadcast is the
    only other join traffic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 45 DAY")
        ).alias("late"),
    )
    w_ord = Window.partitionBy("l_orderkey")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        l.withColumn(
            "n_supp", F.size(F.collect_set("l_suppkey").over(w_ord))
        )
        .withColumn(
            "n_late",
            F.size(
                F.collect_set(
                    F.when(F.col("late"), F.col("l_suppkey"))
                ).over(w_ord)
            ),
        )
        .where(
            F.col("late") & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("n_waiting"))
    )


@query(
    "analytics_dormant_rich_customers",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
    ), t AS (
      SELECT sum(bal_c)::DOUBLE / count(*) AS thresh_c
      FROM c WHERE bal_c > 0
    )
    SELECT c.c_nationkey AS nation, count(*) AS n_custs,
           CAST(sum(c.bal_c) AS BIGINT) AS total_bal_c
    FROM c
    WHERE c.bal_c > (SELECT thresh_c FROM t)
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      )
    GROUP BY c.c_nationkey
    """,
)
def analytics_dormant_rich_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 shape — the dormant-high-value report: customers with
    above-average positive balance and NO orders at all, counted per
    nation. Two decorrelation features stacked: an uncorrelated scalar
    aggregate threshold (the global average) and a NOT EXISTS that
    becomes a LEFT ANTI join on custkey. Balances are exact integer
    cents, so the average threshold (one exact-integer sum, one
    division) is bit-identical across engines — the float-avg boundary
    trap neutralized the same way as events_attribution_linear's
    shares.

    Scale: the threshold is a 1-row aggregate collected driver-side
    (bounded control scalar — the sanctioned pattern, not a BNLJ 1-row
    join); the anti-join keys on custkey against the orders projection
    (at 100 TB: orders' custkey column pruned at the scan, anti-join
    co-partitioned or bloom-pruned); one 25-value groupBy finishes."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
    )
    thresh = (
        c.where(F.col("bal_c") > 0)
        .agg(
            (
                F.sum("bal_c").cast("double") / F.count("*")
            ).alias("t")
        )
        .collect()[0]["t"]
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        c.where(F.col("bal_c") > F.lit(thresh))
        .join(o, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count("*").alias("n_custs"),
            F.sum("bal_c").cast("bigint").alias("total_bal_c"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H matrix completion: Q2 / Q8 / Q9 / Q11 / Q12 / Q13 / Q15 / Q20 shapes
# (adapted to the driver star schema — no partsupp table, so supply-cost
# roles are played by lineitem's observed prices; every money aggregate
# runs in exact integer cents so cross-engine sums are order-free)
# ---------------------------------------------------------------------------
@query(
    "analytics_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, min(cost_c) AS min_cost_c FROM ps
      GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_name,
           min(ps.l_suppkey) AS s_suppkey, best.min_cost_c
    FROM part p
    JOIN best ON best.l_partkey = p.p_partkey
    JOIN ps ON ps.l_partkey = p.p_partkey
           AND ps.cost_c = best.min_cost_c
    WHERE p.p_size <= 10
    GROUP BY p.p_partkey, p.p_name, best.min_cost_c
    """,
)
def analytics_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — the minimum-cost-supplier lookup: for each
    small part, the supplier offering it cheapest (observed minimum
    sale price standing in for ps_supplycost — the driver schema has no
    partsupp). The Q2 skeleton is a correlated MIN subquery
    (cost = (SELECT min(..) WHERE same part)); here it is decorrelated
    by construction: one (part, supplier) aggregate, a per-part MIN
    window + equality filter (the join-back's window form), with
    min(suppkey) as the deterministic tie-break among equal-cost
    suppliers.

    Scale (r15): the oracle's self-join-back spelling made Spark
    execute the (part, supplier) aggregate TWICE — the two join sides
    are structurally different, so ReusedExchange never fires and
    lineitem was scanned and pair-aggregated once per side. The window
    form computes ps once: its partkey exchange serves the min window
    AND the argmin groupBy (hashpartitioning(partkey) satisfies both
    clusterings), so the plan is one lineitem scan, two exchanges
    total, then a broadcast of the size-filtered part dim. Costs are
    integer cents, so min/equality are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("cost_c")
    )
    w = Window.partitionBy("l_partkey")
    best = (
        ps.withColumn("min_cost_c", F.min("cost_c").over(w))
        .where(F.col("cost_c") == F.col("min_cost_c"))
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("s_suppkey"),
            F.min("min_cost_c").alias("min_cost_c"),
        )
    )
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_size") <= 10)
        .select("p_partkey", "p_name")
    )
    return (
        F.broadcast(p)
        .join(best, p["p_partkey"] == best["l_partkey"])
        .select("p_partkey", "p_name", "s_suppkey", "min_cost_c")
    )


@query(
    "analytics_market_share",
    oracle="""
    WITH sales AS (
      SELECT year(o.o_orderdate) AS yr,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
               AS rev_e4,
             (sn.n_name = 'NATION_7') AS is_target
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = cn.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT yr,
           CAST(sum(rev_e4) FILTER (is_target) AS BIGINT) AS target_e4,
           CAST(sum(rev_e4) AS BIGINT) AS total_e4,
           round(sum(rev_e4) FILTER (is_target)
                 / sum(rev_e4)::DOUBLE, 6) AS share
    FROM sales GROUP BY yr
    """,
)
def analytics_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: of everything sold to
    ASIA customers, what fraction was supplied by NATION_7, per order
    year. The 6-way star join (lineitem → orders → customer → nation →
    region, plus supplier → nation) with a conditional-share aggregate;
    the share divides two exact integer sums, so the ratio is
    bit-identical across engines.

    Scale: all five dimension joins are broadcasts (nation/region/
    customer/supplier are dims); the single data-sized shuffle is the
    year groupBy. At 100 TB the orders join is the big pairing —
    orderkey-bucketed layouts or a runtime bloom filter (see
    join_bloom_runtime) keep it from shuffling lineitem twice."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("sn_name"),
    )
    asia = r.where(F.col("r_name") == "ASIA").select("r_regionkey")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    sales = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(
            F.broadcast(asia),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("yr"),
            rev.alias("rev_e4"),
            (F.col("sn_name") == "NATION_7").alias("is_target"),
        )
    )
    tgt = F.sum(F.when(F.col("is_target"), F.col("rev_e4")))
    tot = F.sum("rev_e4")
    return sales.groupBy("yr").agg(
        tgt.cast("bigint").alias("target_e4"),
        tot.cast("bigint").alias("total_e4"),
        F.round(tgt / tot.cast("double"), 6).alias("share"),
    )


@query(
    "analytics_product_type_profit",
    oracle="""
    SELECT sn.n_name AS nation, year(o.o_orderdate) AS yr,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS profit_e4
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY sn.n_name, year(o.o_orderdate)
    """,
)
def analytics_product_type_profit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by supplier nation and
    year, restricted to a part-name pattern ('%widget%' standing in
    for '%green%'; profit omits ps_supplycost — no partsupp table).
    The join graph is the Q9 skeleton: fact → part (pattern-filtered
    dim) → supplier → nation → orders, grouped on (nation, year).

    Scale: the LIKE-filtered part dim shrinks first and broadcasts,
    pruning lineitem EARLY (the join order that makes Q9 tractable);
    supplier/nation broadcast; orders is the one big pairing. One
    data shuffle for the (nation, year) rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("nation"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    profit = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").alias("yr"))
        .agg(F.sum(profit).cast("bigint").alias("profit_e4"))
    )


@query(
    "analytics_important_parts",
    oracle="""
    WITH v AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_c
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, value_c
    FROM v
    WHERE value_c > (SELECT 0.001 * sum(value_c)::DOUBLE FROM v)
    """,
)
def analytics_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — the important-stock report: parts whose total
    traded value exceeds a FRACTION of the whole book (lineitem value
    standing in for partsupp availqty × supplycost). The Q11 skeleton
    is a HAVING over a scalar subquery that re-aggregates the same
    grouped table — the single-pass-reuse pattern: compute the per-part
    values once, derive the global threshold from that same result,
    filter.

    Scale: one partkey groupBy; the threshold is a 1-row re-aggregate
    of the (small, per-part) value table collected driver-side — a
    bounded control scalar, so no 1-row BNLJ join; the grouped table
    would be cached/reused in a multi-query session (here linear
    lineage keeps it one pass + one tiny scan of the aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    val = F.round(F.col("l_extendedprice") * 100).cast(
        "bigint"
    ) * F.col("l_quantity").cast("bigint")
    v = li.groupBy("l_partkey").agg(
        F.sum(val).cast("bigint").alias("value_c")
    )
    thresh = (
        v.agg((F.sum("value_c").cast("double") * 0.001).alias("t"))
        .collect()[0]["t"]
    )
    return v.where(F.col("value_c") > F.lit(thresh))


@query(
    "analytics_ship_channel_priority",
    oracle="""
    SELECT CASE l.l_linenumber % 3 WHEN 0 THEN 'MAIL'
                                   WHEN 1 THEN 'SHIP' ELSE 'AIR' END
             AS channel,
           CAST(sum(CASE WHEN o.o_orderpriority IN
                              ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN
                              ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY channel
    """,
)
def analytics_ship_channel_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 shape — priority mix per shipping channel for slow
    shipments (a synthetic channel from l_linenumber stands in for
    l_shipmode): the conditional two-counter aggregate (urgent vs
    other) per category, the classic CASE-pivot rollup.

    Scale: one orderkey equi-join (date condition as residual), one
    3-value groupBy with both counters in the same partial-agg pass —
    no second scan for the second counter."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    channel = (
        F.when(F.col("l_linenumber") % 3 == 0, "MAIL")
        .when(F.col("l_linenumber") % 3 == 1, "SHIP")
        .otherwise("AIR")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li["l_orderkey"] == o["o_orderkey"])
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
            ),
        )
        .groupBy(channel.alias("channel"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


@query(
    "analytics_order_count_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def analytics_order_count_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 shape — the customer order-count HISTOGRAM, including
    the zero bucket: a LEFT join so customers with no orders survive
    with count 0 (count(o_orderkey) skips the NULLs the outer join
    manufactures — the semantics the inner-join version silently gets
    wrong), then a second aggregate over the first's output.

    Scale: the custkey join and first groupBy share partitioning (one
    exchange serves both); the histogram re-aggregate shuffles only
    |distinct counts| rows."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


@query(
    "analytics_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS total_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.total_e4
    FROM supplier s JOIN rev ON s.s_suppkey = rev.supplier_no
    WHERE rev.total_e4 = (SELECT max(total_e4) FROM rev)
    """,
)
def analytics_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the top supplier for a quarter: a revenue
    "view" (CTE) aggregated per supplier, then the suppliers achieving
    the maximum (Q15's scalar-subquery-on-a-view pattern; ties all
    surface, and because revenue is exact integer units the equality
    is exact — the float version of this query is famously
    tie-unstable).

    Scale: one suppkey groupBy over the date-pruned scan; the max is a
    1-row re-aggregate collected as a control scalar; the supplier
    dim broadcast-joins the (tiny) qualifying set."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(revenue).cast("bigint").alias("total_e4")
    )
    mx = rev.agg(F.max("total_e4")).collect()[0][0]
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.where(F.col("total_e4") == F.lit(mx))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_e4")
    )


@query(
    "analytics_promotable_suppliers",
    oracle="""
    WITH promo_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    ), shipped AS (
      SELECT l.l_suppkey, CAST(sum(l.l_quantity) AS BIGINT) AS qty
      FROM lineitem l
      JOIN promo_parts pp ON pp.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, sh.qty
    FROM supplier s JOIN shipped sh ON sh.l_suppkey = s.s_suppkey
    WHERE sh.qty > (SELECT 2.0 * avg(qty) FROM shipped)
    """,
)
def analytics_promotable_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 shape — suppliers to promote for a part family:
    suppliers who shipped MORE than twice the average quantity of
    'small%' parts in a year (the original's nested IN-chain over
    partsupp/availqty adapted to shipped quantities). Skeleton:
    pattern-filtered part IN-list (a semi-joinable CTE), per-supplier
    aggregate, scalar threshold over that same aggregate.

    Scale: the promo-parts list broadcasts into the date-pruned
    lineitem scan (semi-join before any widening); one suppkey
    groupBy; the threshold is a 1-row re-aggregate collected as a
    control scalar (exact integral quantity sums → identical division
    in both engines); supplier dim broadcasts at the end."""
    pp = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(pp), li["l_partkey"] == pp["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("qty"))
    )
    t = (
        shipped.agg((F.avg("qty") * 2.0).alias("t"))
        .collect()[0]["t"]
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        shipped.where(F.col("qty") > F.lit(t))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "qty")
    )


@query(
    "sql_cached_table",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def sql_cached_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CACHE TABLE surface — Spark's in-memory columnar cache tier:
    a narrow projection is registered and cached
    (``spark.catalog.cacheTable``), and the aggregate reads the
    compressed in-memory columnar batches (Spark 4's ``Scan In-memory
    table`` under a TableCacheQueryStage — pinned in
    tests/test_plans_cache.py) instead of re-scanning parquet. This
    is the interactive-session contract: the first action pays the
    scan + cache build, every later query over the hot view is
    memory-speed.

    Scale: caching is per-executor columnar storage with the SAME
    partitioning as the source scan — no shuffle to build; at 100 TB
    you cache the narrow pruned projection (3 columns here), never the
    raw table, and MEMORY_AND_DISK spills cold partitions instead of
    failing. Cache is idempotent per session (cacheTable on a cached
    view is a no-op), so re-invocations reuse the built batches."""
    view = "cached_orders_narrow"
    load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).createOrReplaceTempView(view)
    if not spark.catalog.isCached(view):
        spark.catalog.cacheTable(view)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_c
        FROM {view}
        GROUP BY o_orderstatus, o_orderpriority
        """
    )


def fixed_width_dir_for_sf(sf_dir: str) -> str:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return f"/tmp/orders_fixedwidth_v1_{(m.group(1) if m else '0.001')}"


@query(
    "scan_fixed_width",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH text ingestion — the mainframe/COBOL export format
    (no delimiters; fields live at byte offsets): orders are staged
    once as 12-char orderkey | 1-char status | 14-char price records,
    then parsed back with substring slices + casts. Staging uses
    ``format_string`` (executor-side, atomic publish via build-dir
    rename); the formats are width-exact, so parse(format(x)) == x and
    the oracle runs on the ORIGINAL table — the round-trip is provably
    lossless.

    Scale: a fixed-width file is newline-splittable like CSV, so the
    scan parallelizes by byte ranges; parsing is substring/cast
    codegen (no regex, no Python). The one thing fixed-width cannot do
    is column pruning at the reader — every byte of a record is read
    even for a 2-field projection, which is exactly why this format is
    converted to parquet at the ingest boundary (the query demonstrates
    the ingest, then aggregates)."""
    import os
    import shutil

    base = fixed_width_dir_for_sf(sf_dir)
    if not os.path.isdir(base):
        build = f"{base}.build.{os.getpid()}"
        shutil.rmtree(build, ignore_errors=True)
        load_table(spark, sf_dir, "orders").select(
            F.format_string(
                "%012d%1s%014.2f",
                F.col("o_orderkey"),
                F.col("o_orderstatus"),
                F.col("o_totalprice"),
            ).alias("value")
        ).coalesce(2).write.mode("overwrite").text(build)
        try:
            os.rename(build, base)
        except OSError:
            shutil.rmtree(build, ignore_errors=True)
    raw = spark.read.text(base)
    rec = raw.select(
        F.substring("value", 1, 12).cast("bigint").alias("o_orderkey"),
        F.substring("value", 13, 1).alias("o_orderstatus"),
        F.substring("value", 14, 14).cast("double").alias("o_totalprice"),
    )
    return rec.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("sum_price_c"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH b AS (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT max(c.ts) FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts <= p.ts) AS back_ts,
             (SELECT min(c.ts) FROM events c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts >= p.ts) AS fwd_ts
      FROM events p WHERE p.event_type = 'purchase'
    )
    SELECT event_id, user_id, ts,
           CASE
             WHEN back_ts IS NULL THEN fwd_ts
             WHEN fwd_ts IS NULL THEN back_ts
             WHEN epoch_us(ts) - epoch_us(back_ts)
                  <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
             ELSE fwd_ts
           END AS nearest_click_ts,
           CASE
             WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
             WHEN back_ts IS NULL THEN 'fwd'
             WHEN fwd_ts IS NULL THEN 'back'
             WHEN epoch_us(ts) - epoch_us(back_ts)
                  <= epoch_us(fwd_ts) - epoch_us(ts) THEN 'back'
             ELSE 'fwd'
           END AS direction
    FROM b
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join: for each purchase, the closest
    click of the same user in EITHER direction (ties go backward) —
    pandas' ``merge_asof(direction='nearest')``, which plain
    carry-forward cannot express. Built as TWO carry passes over one
    union: the ascending window carries the last click ≤ ts forward,
    the descending window carries the first click ≥ ts backward, and a
    microsecond-exact comparison picks the nearer (equal-ts clicks are
    visible to both passes, distance 0).

    Scale: both window passes share the user_id partitioning — one
    shuffle, two sorts (asc + desc), no range explosion, per-user
    linear; the same reason join_asof beats a range join at 100 TB,
    paid twice instead of once for the bidirectional semantics."""
    events = load_table(spark, sf_dir, "events")
    # r15: disjoint event_type branches → one filtered CASE pass (same
    # rewrite as join_asof; the events scan runs once, not per stream).
    u = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.col("ts")).alias(
            "click_ts"
        ),
        F.when(
            F.col("event_type") == "purchase", F.col("event_id")
        ).alias("event_id"),
    ).withColumn(
        "is_purchase", F.col("event_id").isNotNull().cast("int")
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    both = (
        u.withColumn(
            "back_ts", F.last("click_ts", ignorenulls=True).over(w_back)
        )
        .withColumn(
            "fwd_ts", F.last("click_ts", ignorenulls=True).over(w_fwd)
        )
        .where(F.col("is_purchase") == 1)
    )
    d_back = F.unix_micros("ts") - F.unix_micros("back_ts")
    d_fwd = F.unix_micros("fwd_ts") - F.unix_micros("ts")
    nearer_back = d_back <= d_fwd
    nearest = (
        F.when(F.col("back_ts").isNull(), F.col("fwd_ts"))
        .when(F.col("fwd_ts").isNull(), F.col("back_ts"))
        .when(nearer_back, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
    )
    direction = (
        F.when(
            F.col("back_ts").isNull() & F.col("fwd_ts").isNull(),
            F.lit(None).cast("string"),
        )
        .when(F.col("back_ts").isNull(), F.lit("fwd"))
        .when(F.col("fwd_ts").isNull(), F.lit("back"))
        .when(nearer_back, F.lit("back"))
        .otherwise(F.lit("fwd"))
    )
    return both.select(
        "event_id",
        "user_id",
        "ts",
        nearest.alias("nearest_click_ts"),
        direction.alias("direction"),
    )


@query(
    "fn_agg_suite",
    oracle="""
    WITH k AS (
      SELECT event_type, event_id, value,
             CAST(round(value * 100) AS BIGINT) * 10000000000
               + event_id AS ord_key
      FROM events
    )
    SELECT event_type,
           bool_and(value > 0) AS all_pos,
           bool_or(value > 200) AS any_big,
           CAST(count(*) FILTER (value > 100) AS BIGINT) AS n_over100,
           arg_min(event_id, ord_key) AS cheapest_id,
           arg_max(event_id, ord_key) AS priciest_id,
           CAST(round(2 * quantile_cont(
                 CAST(round(value * 100) AS BIGINT), 0.5)) AS BIGINT)
             AS med2_c
    FROM k GROUP BY event_type
    """,
)
def fn_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATE-function surface, completing the matrix next to the
    scalar/datetime/array/map/struct suites: bool_and / bool_or,
    FILTERed counts, min_by / max_by (arg-extremum), and exact median.
    Determinism engineering: arg-extrema order by a SINGLE composite
    integer (cents·10^10 + event_id — DuckDB's max_by rejects
    composite tuple keys, a pinned gotcha, and value alone has ties);
    the median ships as 2·median of integer cents (exact BIGINT —
    medians interpolate to halves, and a rounded float median sits on
    the .xx5 midpoint trap).

    Scale: every aggregate here is partial-merge mergeable EXCEPT the
    exact median (holds the group's values); at 100 TB the median slot
    swaps to the KLL sketch (agg_quantile_sketch) and the rest of the
    suite stays one partial-agg'd pass."""
    ev = load_table(spark, sf_dir, "events")
    ord_key = (
        F.round(F.col("value") * 100).cast("bigint")
        * F.lit(10000000000)
        + F.col("event_id")
    )
    k = ev.select("event_type", "event_id", "value", ord_key.alias("ord"))
    return k.groupBy("event_type").agg(
        F.bool_and(F.col("value") > 0).alias("all_pos"),
        F.bool_or(F.col("value") > 200).alias("any_big"),
        F.count(F.when(F.col("value") > 100, 1))
        .cast("bigint")
        .alias("n_over100"),
        F.min_by("event_id", F.col("ord")).alias("cheapest_id"),
        F.max_by("event_id", F.col("ord")).alias("priciest_id"),
        F.round(
            2
            * F.expr(
                "percentile(cast(round(value * 100) as bigint), 0.5)"
            )
        )
        .cast("bigint")
        .alias("med2_c"),
    )


@query(
    "fn_decimal_suite",
    oracle="""
    WITH c AS (
        SELECT o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), a AS (
        SELECT o_orderstatus,
               CAST(sum(cents) AS BIGINT)     AS total_c,
               min(cents)                     AS min_c,
               max(cents)                     AS max_c,
               CAST(sum(cents) * 2 AS BIGINT) AS doubled_c,
               count(*)                       AS n
        FROM c GROUP BY o_orderstatus
    )
    SELECT o_orderstatus,
           printf('%d.%02d', total_c // 100, total_c % 100)
               AS total_dec,
           printf('%d.%02d', min_c // 100, min_c % 100)
               AS min_dec,
           printf('%d.%02d', max_c // 100, max_c % 100)
               AS max_dec,
           printf('%d.%02d', doubled_c // 100, doubled_c % 100)
               AS doubled_dec,
           n
    FROM a
    """,
)
def fn_decimal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DECIMAL arithmetic surface, built the only way that is
    exact across ENGINE VERSIONS: the per-row DOUBLE is converted once
    with the proven ``round(x*100)`` integer-cents idiom (half-even on
    the binary value, identical everywhere), all aggregation happens on
    BIGINT cents, and the published money value is the CANONICAL
    ``'%d.%02d'`` STRING — formatting an integer cannot round, so both
    engines emit byte-identical text. A DECIMAL output column is NOT
    portable through the driver's compare: the DuckDB→pandas fetch path
    renders DECIMAL as float64 (driver r6 AND r7 hash-fails), so the
    decimal TYPE itself is demonstrated in
    tests/test_round8_ops.py::test_decimal_arithmetic_exact (Spark-side
    DECIMAL(28,2) sum/min/max equal these canonical strings), while the
    cross-engine contract stays on strings. A per-row
    ``CAST(double AS DECIMAL(18,2))`` is also out: .xx5 midpoints round
    differently across DuckDB builds. Division/average stay out
    deliberately: engines disagree on decimal result-SCALE rules.

    Scale: integer aggregation is partial-merge mergeable and cheaper
    than 128-bit decimal accumulation; the decimal presentation cast
    touches only the G group rows, not the N input rows — one
    partial-agg'd shuffle total."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def dec(c: str) -> F.Column:
        return F.format_string(
            "%d.%02d", F.expr(f"{c} div 100"), F.col(c) % 100
        )

    agg = orders.select("o_orderstatus", cents.alias("cents")).groupBy(
        "o_orderstatus"
    ).agg(
        F.sum("cents").alias("total_c"),
        F.min("cents").alias("min_c"),
        F.max("cents").alias("max_c"),
        (F.sum("cents") * 2).alias("doubled_c"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "o_orderstatus",
        dec("total_c").alias("total_dec"),
        dec("min_c").alias("min_dec"),
        dec("max_c").alias("max_dec"),
        dec("doubled_c").alias("doubled_dec"),
        "n",
    )


@query(
    "fn_string_suite",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_name, reverse(p_name)) AS lev_rev,
           split_part(p_name, ' ', 2) AS word2,
           translate(p_name, 'aeiou', 'AEIOU') AS vowels_uc,
           lpad(p_name, 25, '.') AS padded,
           repeat(left(p_name, 2), 3) AS rep2x3,
           CAST(strpos(p_name, 'al') AS INT) AS pos_al,
           ascii(p_name) AS first_cp,
           chr(65 + CAST(p_partkey % 26 AS INT)) AS key_chr,
           CAST(length(replace(p_name, ' ', '')) AS INT) AS n_nonspace
    FROM part
    """,
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-FUNCTION MATRIX — the text-manipulation tier of the scalar
    surface (scalar_fn_suite covers date/math/JSON): edit distance
    (levenshtein — the fuzzy-match primitive), field extraction
    (split_part), character mapping (translate), padding (lpad),
    repetition, substring search (instr ⇄ strpos, both 1-based/0-miss),
    codepoint/char conversions (ascii ⇄ chr) and whitespace-free
    length. Every function pair was cross-checked for identical
    semantics on the synthetic vocabulary (ASCII part names — locale
    and Unicode-normalization divergences are out of contract).

    Scale: one WholeStageCodegen projection over the scan, zero
    shuffles; levenshtein is the only super-linear-per-row item
    (O(len²) DP per value — at 100 TB you gate it behind a cheap
    length/prefix prefilter exactly as dedup_fuzzy's candidate
    generation does)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.levenshtein("p_name", F.reverse(F.col("p_name"))).alias(
            "lev_rev"
        ),
        F.expr("split_part(p_name, ' ', 2)").alias("word2"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_uc"),
        F.lpad("p_name", 25, ".").alias("padded"),
        F.repeat(F.expr("left(p_name, 2)"), 3).alias("rep2x3"),
        F.instr("p_name", "al").cast("int").alias("pos_al"),
        F.ascii("p_name").alias("first_cp"),
        F.expr("chr(65 + CAST(p_partkey % 26 AS INT))").alias("key_chr"),
        F.length(F.regexp_replace("p_name", " ", "")).cast("int").alias(
            "n_nonspace"
        ),
    )


# ---------------------------------------------------------------------------
# Transaction-log table snapshot (lakehouse commit-log mechanics)
# ---------------------------------------------------------------------------
def commit_log_path_for_sf(sf_dir: str) -> str:
    """Deterministic staged path for the commit-log table (a minimal
    Delta/Iceberg-shaped layout: data files + an ordered JSON log of
    add/remove actions)."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return f"/tmp/commit_log_v1_{(m.group(1) if m else '0.001')}"


DRIVER_COMMITLOG = driver_path(commit_log_path_for_sf)


@query(
    "scan_commit_log",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM read_parquet(['{DRIVER_COMMITLOG}/data/s1/*.parquet',
                       '{DRIVER_COMMITLOG}/data/s2/*.parquet'])
    GROUP BY o_orderstatus
    """,
)
def scan_commit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSACTION-LOG TABLE SNAPSHOT — the lakehouse (Delta/Iceberg)
    read protocol in miniature, with no table-format dependency: a
    table is (immutable data files + an ordered metadata log of
    add/remove actions), and a snapshot read replays the log to the
    live file set, then scans ONLY those files. The staged table
    commits three versions: v0 adds slice s0, v1 adds s1, v2 COMPACTS
    s0 into s2 (remove+add — the rewrite every lakehouse does), so the
    correct snapshot is {{s1, s2}} and a reader that globbed the data
    directory instead of replaying the log would double-count s0's
    rows — the bug this protocol exists to prevent.

    Scale: the log is METADATA — replayed driver-side (sanctioned
    bounded control data; Delta's own reader does exactly this, with
    checkpointed log segments once versions grow) — while the data
    scan is an ordinary parquet read of the live files with full
    pushdown/pruning. Snapshot isolation at 100 TB = this same replay
    pinned at a version number; time travel = truncating the replay.
    Oracle reads the same live files directly."""
    import glob as _glob
    import json as _json
    import os

    base = commit_log_path_for_sf(sf_dir)
    if not os.path.isdir(base):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        build = f"{base}.build-{os.getpid()}"
        for i, pred in enumerate(("0", "1")):
            orders.where(F.col("o_orderkey") % 3 == int(pred)).write.mode(
                "overwrite"
            ).parquet(f"{build}/data/s{i}")
        # v2 compaction: s0's rows rewritten into s2 (1 output file).
        spark.read.parquet(f"{build}/data/s0").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{build}/data/s2")
        os.makedirs(f"{build}/_log", exist_ok=True)
        log = [
            [{"op": "add", "path": "data/s0"}],
            [{"op": "add", "path": "data/s1"}],
            [
                {"op": "remove", "path": "data/s0"},
                {"op": "add", "path": "data/s2"},
            ],
        ]
        for v, actions in enumerate(log):
            with open(f"{build}/_log/{v:05d}.json", "w") as f:
                for a in actions:
                    f.write(_json.dumps({"version": v, **a}) + "\n")
        try:
            os.rename(build, base)
        except OSError:
            import shutil

            shutil.rmtree(build, ignore_errors=True)  # lost the race
    # Snapshot read: replay the ordered log (driver-side metadata).
    live: set[str] = set()
    for p in sorted(_glob.glob(f"{base}/_log/*.json")):
        with open(p) as f:
            for line in f:
                a = _json.loads(line)
                (live.add if a["op"] == "add" else live.discard)(a["path"])
    snap = spark.read.parquet(*[f"{base}/{d}" for d in sorted(live)])
    return snap.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus,
           o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM {orders}
    GROUP BY ALL
"""


@query(
    "sql_group_by_all",
    oracle=_GROUP_BY_ALL_SQL.format(orders="orders"),
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL dialect surface (Spark 4 ⇄ DuckDB, identical SQL
    text): the analyst shorthand that derives the grouping key set from
    the non-aggregate select items — same Catalyst plan as the explicit
    two-key groupBy (one partial-agg'd shuffle), purely a binder
    feature, pinned here so dialect parity is a verified fact rather
    than an assumption."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_gba_orders"
    )
    return spark.sql(_GROUP_BY_ALL_SQL.format(orders="v_gba_orders"))


@query(
    "window_gaps_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events
    ),
    anch AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS anchor
      FROM d
    ),
    isl AS (
      SELECT user_id, anchor,
             CAST(count(*) AS INT) AS streak_days,
             min(day) AS first_day, max(day) AS last_day
      FROM anch GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(sum(streak_days) AS INT) AS n_active_days,
           CAST(count(*) AS INT) AS n_islands,
           CAST(max(streak_days) AS INT) AS longest_streak,
           CAST(min(first_day) AS DATE) AS first_active,
           CAST(max(last_day) AS DATE) AS last_active
    FROM isl
    GROUP BY user_id
    """,
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS — consecutive-activity-run detection, the classic
    analytic pattern (streak length, island count) the reference's
    fixed dataflow cannot express but any per-entity activity report
    needs. Implementation is the canonical row_number anchor trick:
    `day - row_number()` is constant within a consecutive-day run, so
    one groupBy per (user, anchor) materializes the islands and a second
    per-user rollup summarizes them — no self-join, no iteration.

    Scale: the distinct (user, day) projection partial-aggregates
    map-side before one shuffle; the anchor window and BOTH groupBys all
    hash-partition by user_id, so AQE plans a single exchange for the
    window + islands + rollup chain. State per user is bounded by the
    calendar (days), not event volume — at 100 TB the distinct step is
    the only data-sized stage and it reduces early. Identical arithmetic
    on both engines: DATE - INT day arithmetic, integer counts."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anch = d.withColumn(
        "anchor",
        F.date_sub("day", F.row_number().over(w).cast("int")),
    )
    isl = anch.groupBy("user_id", "anchor").agg(
        F.count("*").cast("int").alias("streak_days"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )
    return isl.groupBy("user_id").agg(
        F.sum("streak_days").cast("int").alias("n_active_days"),
        F.count("*").cast("int").alias("n_islands"),
        F.max("streak_days").cast("int").alias("longest_streak"),
        F.min("first_day").cast("date").alias("first_active"),
        F.max("last_day").cast("date").alias("last_active"),
    )


@query(
    "fn_regex_suite",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '(s\\w+)', 1) AS first_s_word,
           CAST(len(regexp_extract_all(text, '\\bb\\w+')) AS INT)
             AS n_b_words,
           regexp_replace(text, 'batch', 'B', 'g') AS batch_collapsed,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS INT)
             AS n_tokens,
           CASE WHEN regexp_matches(text, 'stream\\s+spark')
                THEN 1 ELSE 0 END AS has_stream_spark,
           regexp_extract(text, '(\\w+)\\s+\\w*$', 1) AS penultimate
    FROM documents
    WHERE lang = 'en'
    """,
)
def fn_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGEX FUNCTION MATRIX — regexp_extract / regexp_count /
    regexp_replace / split / rlike on one codegen projection,
    completing the scalar-function surface next to scalar_fn_suite and
    fn_string_suite. Patterns stay in the Java-regex ∩ RE2 common
    subset (no backreferences or lookaround) so the identical pattern
    text means the identical language on both engines; both return ''
    on a no-match extract.

    Scale: pure map-side projection over the pruned (doc_id, text,
    lang) columns — predicate and column pruning reach the parquet
    scan, no shuffle at all; regex evaluation is per-row JVM work that
    scales embarrassingly with splits (the 100 TB cost is the scan)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("lang") == "en")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"(s\w+)", 1).alias("first_s_word"),
        F.expr(r"regexp_count(text, '\\bb\\w+')").cast("int").alias(
            "n_b_words"
        ),
        F.regexp_replace("text", "batch", "B").alias("batch_collapsed"),
        F.size(F.split("text", r"\s+")).cast("int").alias("n_tokens"),
        F.when(F.col("text").rlike(r"stream\s+spark"), 1)
        .otherwise(0)
        .alias("has_stream_spark"),
        F.regexp_extract("text", r"(\w+)\s+\w*$", 1).alias("penultimate"),
    )


@query(
    "fn_collation_group",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, u.pos,
             CASE WHEN (doc_id + u.pos) % 3 = 0 THEN upper(u.word)
                  ELSE u.word END AS word
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS word,
                           generate_subscripts(string_split(text, ' '), 1)
                             AS pos) u
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(count(DISTINCT word) AS BIGINT) AS n_distinct_cs,
           CAST(count(DISTINCT lower(word)) AS BIGINT) AS n_distinct_ci,
           CAST(count(*) FILTER (WHERE lower(word) = 'spark') AS BIGINT)
             AS n_spark_ci
    FROM w
    GROUP BY source
    """,
)
def fn_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLATION SURFACE (Spark 4 `collate(..., 'UTF8_LCASE')`) —
    case-insensitive distinct counting and equality under a collated
    comparator, verified against the classic lower()-normalization
    oracle. The corpus is deterministically case-mangled (upper every
    3rd (doc_id+pos)) so the case-sensitive and case-insensitive
    distinct counts genuinely diverge. Only deterministic outputs are
    compared — a collated GROUP BY key's representative case is
    first-encountered and engine-specific, exactly why the collated
    key itself stays out of the projection.

    Scale (two-pass form): the corpus collapses ONCE to per-(source,
    word) counts — a plain partial-agg'd shuffle, NO expand — and every
    published statistic then reads the VOCABULARY-sized summary:
    n_words = Σc, n_distinct_cs = count(*), n_spark_ci = Σc under the
    collated filter, and the one remaining count_distinct (the collated
    key) expands only vocabulary rows. The previous registration put
    both distincts directly on the corpus, whose expand stage tripled
    the corpus (measured 3.8× per 100× — the r7 verdict's sole
    perf-weak id); this form is the documented swap, now registered.
    Collation comparisons stay in codegen (ICU-free UTF8_LCASE is a
    JVM binary comparator, not a UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos0", "raw"),
    ).select(
        "source",
        F.when(
            (F.col("doc_id") + F.col("pos0") + 1) % 3 == 0,
            F.upper("raw"),
        )
        .otherwise(F.col("raw"))
        .alias("word"),
    )
    # pass 1: ONE corpus-sized partial-agg'd shuffle → vocabulary frame
    vocab = w.groupBy("source", "word").agg(F.count("*").alias("c"))
    # pass 2: all stats over the Heaps-bounded vocabulary summary
    ci = F.expr("collate(word, 'UTF8_LCASE')")
    return vocab.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count("*").alias("n_distinct_cs"),
        F.count_distinct(ci).alias("n_distinct_ci"),
        F.sum(F.when(ci == F.lit("spark"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_spark_ci"),
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_orderdate AS DATE) AS st,
             CAST(o_orderdate AS DATE)
               + CAST(substr(o_orderpriority, 1, 1) AS INT) * 5 AS en
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_concurrent_pairs,
           CAST(max(date_diff('day', greatest(a.st, b.st),
                              least(a.en, b.en))) AS INT)
             AS max_overlap_days,
           CAST(sum(date_diff('day', greatest(a.st, b.st),
                              least(a.en, b.en))) AS BIGINT)
             AS total_overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.st <= b.en AND b.st <= a.en
    GROUP BY a.o_custkey
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP SELF-JOIN — concurrent-open-order detection:
    each order becomes a validity interval [orderdate, orderdate +
    5×priority-digit days] and overlapping pairs are enumerated WITHIN
    each customer. The join is an equi-join on o_custkey with the
    overlap predicate (a.st <= b.en AND b.st <= a.en) as a residual —
    Catalyst plans a hash join co-partitioned on the key, so pair
    enumeration is partition-local and bounded by per-customer order
    counts (~10), never corpus².

    Scale: the classic interval-join hierarchy — when the equi-key
    bounds per-key cardinality (here: orders per customer), a plain
    co-partitioned self-join with a residual predicate is optimal; a
    hot key (one entity holding millions of intervals) would move to
    the banded form (explode intervals into fixed time buckets,
    equi-join on bucket, dedupe pair ids — the join_range_theta /
    dedup band-join pattern in this repo). Both engines compute DATE ±
    INT day arithmetic and integer day diffs — no float surface."""
    iv = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.to_date("o_orderdate").alias("st"),
            F.date_add(
                F.to_date("o_orderdate"),
                F.substring("o_orderpriority", 1, 1).cast("int") * 5,
            ).alias("en"),
        )
    )
    a, b = iv.alias("a"), iv.alias("b")
    ov_days = F.datediff(
        F.least(F.col("a.en"), F.col("b.en")),
        F.greatest(F.col("a.st"), F.col("b.st")),
    )
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        & (F.col("a.st") <= F.col("b.en"))
        & (F.col("b.st") <= F.col("a.en")),
    )
    return pairs.groupBy(F.col("a.o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_concurrent_pairs"),
        F.max(ov_days).cast("int").alias("max_overlap_days"),
        F.sum(ov_days).cast("bigint").alias("total_overlap_days"),
    )


@query(
    "agg_mode_exact",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, hr
    ),
    r AS (
      SELECT event_type, hr, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, hr ASC) AS rk
      FROM h
    )
    SELECT r.event_type,
           r.hr AS mode_hour,
           r.n AS mode_count,
           t.n_hours
    FROM r JOIN (SELECT event_type,
                        CAST(count(*) AS INT) AS n_hours
                 FROM h GROUP BY event_type) t
      ON r.event_type = t.event_type
    WHERE r.rk = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT MODE with a total tie-break — most-frequent hour-of-day per
    event type, tie broken toward the smallest hour. Spark 4 ships a
    native `mode()` aggregate but documents it NON-deterministic on
    ties (engine- and order-dependent winner), so the verified form is
    the count + row_number reduction — the same answer every run on
    every engine, which is what lets the driver hash it.

    Scale: the value domain collapses FIRST (groupBy(type, hour) is a
    partial-agg'd shuffle producing ≤ |types|·24 rows); the ranking
    window and the distinct-hour rollup both run on that summary, so
    the mode of a 100 TB column costs one aggregation over the data and
    two operators over a few hundred rows. Mode over an unbounded
    domain (user_id) would swap the exact summary for the
    count-min-sketch + heavy-hitter pass already in agg_count_min_sketch
    / agg_approx_topk_sharded."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("hr"))
    # r15: the distinct-hour total rides the SAME event_type window
    # partitioning as the rank (unordered frame = whole partition), so
    # the separate aggregate + join-back — which re-executed the corpus
    # collapse — disappears: one events pass, one summary exchange.
    r = h.select(
        "event_type",
        "hr",
        "n",
        F.row_number().over(w).alias("rk"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .cast("int")
        .alias("n_hours"),
    )
    return r.where(F.col("rk") == 1).select(
        "event_type",
        F.col("hr").alias("mode_hour"),
        F.col("n").alias("mode_count"),
        "n_hours",
    )


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_totalprice >= 1000.0
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL — the named-parameter binding API
    (`spark.sql(text, args={...})`, Spark 3.4+): `:status` /
    `:min_price` markers bind as typed literals at parse time, the
    injection-safe templating surface a query service exposes instead
    of string interpolation. The oracle is the same query with the
    literals inlined — identical results by definition of binding.

    Scale: parameters are parse-time literals, so Catalyst constant-
    folds and pushes them down exactly like hand-written predicates —
    the parquet scan carries PushedFilters on BOTH bound parameters;
    a plan cache keyed on the template (not the bound values) is what
    parameterization buys a multi-tenant endpoint at scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_param_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM v_param_orders
        WHERE o_orderstatus = :status
          AND o_totalprice >= :min_price
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "min_price": 1000.0},
    )


@query(
    "scan_commit_log_time_travel",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM read_parquet(['{DRIVER_COMMITLOG}/data/s0/*.parquet',
                       '{DRIVER_COMMITLOG}/data/s1/*.parquet'])
    GROUP BY o_orderstatus
    """,
)
def scan_commit_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the commit-log table — the same snapshot
    protocol as scan_commit_log, with the replay TRUNCATED at a pinned
    version (`VERSION AS OF 1`): versions 0-1 added slices s0 and s1,
    so the as-of-v1 live set is {s0, s1} — including s0, which the
    CURRENT snapshot no longer contains (v2 compacted it away into s2).
    Reading a state the latest snapshot cannot see is the actual test
    of time travel; the two queries' different file sets over one
    shared staging prove version pinning, snapshot isolation, and
    compaction invisibility in one pair.

    Scale: identical to the snapshot read — version resolution is a
    driver-side metadata replay truncated at the pinned version (Delta
    checkpoints make it O(log tail) not O(versions)); the data scan is
    a plain pruned parquet read of the pinned files. Retention is the
    one extra contract at 100 TB: time travel reaches only versions
    whose removed files a VACUUM hasn't physically deleted yet."""
    import glob as _glob
    import json as _json
    import os

    base = commit_log_path_for_sf(sf_dir)
    if not os.path.isdir(base):
        scan_commit_log(spark, sf_dir)  # stage via the snapshot query
    as_of = 1
    live: set[str] = set()
    for p in sorted(_glob.glob(f"{base}/_log/*.json")):
        if int(os.path.basename(p).split(".")[0]) > as_of:
            break
        with open(p) as f:
            for line in f:
                a = _json.loads(line)
                (live.add if a["op"] == "add" else live.discard)(a["path"])
    snap = spark.read.parquet(*[f"{base}/{d}" for d in sorted(live)])
    return snap.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )


@query(
    "analytics_period_growth",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, rev_cents, n_orders,
           rev_cents - lag(rev_cents, 1) OVER (ORDER BY month) AS mom_delta,
           rev_cents - lag(rev_cents, 12) OVER (ORDER BY month) AS yoy_delta
    FROM m
    """,
)
def analytics_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIOD-OVER-PERIOD GROWTH — the reporting staple: monthly revenue
    with month-over-month and year-over-year (lag 12) deltas. Money in
    exact integer cents end-to-end, so the deltas hash-verify; the
    NULL first-month/first-year rows are part of the contract (no
    growth baseline exists yet).

    Scale: the corpus collapses to one row per month in a single
    partial-agg'd shuffle; the lag windows then run over the ~80-row
    summary. An unpartitioned window over a SUMMARY is sanctioned —
    the single-partition sort the plan sweep hunts for only matters
    when it sorts DATA (the calendar can't outgrow an executor).
    Calendar gaps would need a month spine (rollup_gap_fill's
    sequence-generate pattern) before lag is trustworthy — the
    synthetic orderdates are gap-free, asserted by the oracle match."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents"),
            F.count("*").alias("n_orders"),
        )
    )
    w = Window.orderBy("month")
    return m.select(
        "month",
        "rev_cents",
        "n_orders",
        (F.col("rev_cents") - F.lag("rev_cents", 1).over(w)).alias(
            "mom_delta"
        ),
        (F.col("rev_cents") - F.lag("rev_cents", 12).over(w)).alias(
            "yoy_delta"
        ),
    )


@query(
    "window_running_distinct",
    oracle="""
    SELECT e.event_id, e.user_id,
           CAST((SELECT count(DISTINCT e2.event_type) FROM events e2
                 WHERE e2.user_id = e.user_id
                   AND (e2.ts < e.ts OR (e2.ts = e.ts
                        AND e2.event_id <= e.event_id))) AS INT)
             AS n_types_seen
    FROM events e
    WHERE e.user_id < 30
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING COUNT-DISTINCT — per user, how many distinct event types
    have been seen up to each event (the vocabulary-discovery /
    feature-coverage curve). SQL windows cannot express COUNT(DISTINCT)
    OVER; Spark's collect_set over a running row frame CAN — the state
    is the per-key distinct SET (bounded by the type domain, not the
    event count), which is exactly why this is expressible at scale
    when the domain is small. The DuckDB oracle pays the quadratic
    correlated-subquery form instead — the cost asymmetry is the point:
    set-valued window state is the scalable formulation.

    Scale: one shuffle+sort on (user_id, ts) shared by the window; per-
    row state is the distinct set (≤ |event types|). An unbounded
    domain (distinct URLS seen) swaps the exact set for a running HLL
    sketch — the ``_hll`` form. The ts tie-break (event_id) makes the
    running count deterministic under equal timestamps on both
    engines."""
    return _running_distinct_types(spark, sf_dir, hll=False)


@query(
    "window_running_distinct_hll",
    oracle="""
    SELECT e.event_id, e.user_id,
           CAST((SELECT count(DISTINCT e2.event_type) FROM events e2
                 WHERE e2.user_id = e.user_id
                   AND (e2.ts < e.ts OR (e2.ts = e.ts
                        AND e2.event_id <= e.event_id))) AS INT)
             AS n_types_seen,
           TRUE AS hll_in_envelope
    FROM events e
    WHERE e.user_id < 30
    """,
)
def window_running_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING COUNT-DISTINCT, HLL-SKETCH FORM — the exact form keeps
    the per-key distinct SET as window state, fine while the domain is
    small and quadratic memory when it isn't (distinct URLs per user).
    This form keeps a Datasketches HLL as the running-frame state
    instead: ``hll_sketch_agg(...).over(running frame)`` — constant
    ~16 KB state per row at lgK=14 regardless of domain size, and the
    expanding frame needs only the sketch's update() (no retract),
    which is exactly what Spark's window AggregateProcessor supports.
    Both the exact collect_set and the HLL sketch share ONE window
    spec, so the plan has a single sort+Window node — zero extra
    shuffles.

    Output = the exact twin's columns + ``hll_in_envelope``: every
    per-row estimate within max(2, 2%) of the exact running count; the
    oracle asserts the literal TRUE. At the events table's type domain
    the sketch is in exact (coupon) mode, so the estimate is exactly
    the count — the envelope is the regression tripwire."""
    return _running_distinct_types(spark, sf_dir, hll=True)


def _running_distinct_types(
    spark: SparkSession, sf_dir: str, hll: bool
) -> DataFrame:
    """Running distinct event types per user (users < 30) from a
    collect_set window; with ``hll`` an lgK=14 HLL over the same frame
    is checked against it in ``hll_in_envelope``."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cols = [
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w))
        .cast("int")
        .alias("n_types_seen"),
    ]
    if not hll:
        return ev.select(*cols)
    est = F.hll_sketch_estimate(
        F.hll_sketch_agg("event_type", F.lit(14)).over(w)
    )
    df = ev.select(*cols, est.alias("_est"))
    in_env = F.abs(
        F.col("_est").cast("double") - F.col("n_types_seen")
    ) <= F.greatest(F.lit(2.0), 0.02 * F.col("n_types_seen"))
    return df.select(
        "event_id",
        "user_id",
        "n_types_seen",
        in_env.alias("hll_in_envelope"),
    )


@query(
    "agg_string_agg_ordered",
    oracle="""
    SELECT source,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
           CAST(count(DISTINCT lang) AS INT) AS n_langs,
           string_agg(DISTINCT CAST(doc_id % 7 AS VARCHAR), '|'
                      ORDER BY CAST(doc_id % 7 AS VARCHAR)) AS residues
    FROM documents
    GROUP BY source
    """,
)
def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED STRING AGGREGATION — LISTAGG(DISTINCT … ORDER BY), the
    SQL:2016 surface Spark 4 finally ships natively (⇄ DuckDB
    string_agg with the same modifiers). Deterministic BY CONSTRUCTION
    — distinct + an explicit total order — which is the only way a
    concatenation aggregate can hash-verify; bare listagg inherits
    partial-aggregation arrival order and is a cross-engine trap.

    Scale: Catalyst plans distinct-listagg like a multi-distinct
    aggregate (expand + two-phase); state per group is the DISTINCT
    value set, so it is safe exactly when the domain is bounded (langs,
    enum codes) and a deliberate OOM when it is not — concatenating an
    unbounded column belongs in the sink, not the aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        (F.col("doc_id") % 7).cast("string").alias("residue"),
    )
    # One listagg(DISTINCT) per aggregation: Spark 4.1's multi-distinct
    # rewrite ClassCastExceptions (AttributeReference→SortOrder) when a
    # listagg(DISTINCT) shares an Aggregate with ANY second distinct
    # aggregate over a different child — two single-distinct aggs joined
    # on the tiny group key dodge the planner bug at the cost of one
    # extra pass.
    langs = docs.groupBy("source").agg(
        F.expr("listagg(DISTINCT lang, ',') WITHIN GROUP (ORDER BY lang)")
        .alias("langs"),
    )
    residues = docs.groupBy("source").agg(
        F.expr(
            "listagg(DISTINCT residue, '|') WITHIN GROUP (ORDER BY residue)"
        ).alias("residues"),
    )
    return langs.join(residues, "source").select(
        "source",
        "langs",
        F.size(F.split("langs", ",")).cast("int").alias("n_langs"),
        "residues",
    )


# ---------------------------------------------------------------------------
# binaryFile source: whole-file ingestion (model shards / raw assets)
# ---------------------------------------------------------------------------
def binfiles_path_for_sf(sf_dir: str) -> str:
    """Deterministic staged directory of small raw files for the
    binaryFile-source scan (one .txt per low-id document)."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return f"/tmp/binfiles_v1_{(m.group(1) if m else '0.001')}"


DRIVER_BINFILES = driver_path(binfiles_path_for_sf)


@query(
    "scan_binaryfile_source",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           CAST(length(content) AS BIGINT) AS n_bytes,
           md5(content) AS content_md5
    FROM read_text('{DRIVER_BINFILES}/*.txt')
    """,
)
def scan_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHOLE-FILE BINARY INGESTION — the `binaryFile` source: one row
    per FILE (path, modificationTime, length, content) instead of one
    per record, the entry point for raw assets (images, audio, model
    shards) that have no record structure. Output is the manifest a
    downstream decode stage consumes: name, size, content digest —
    digest computed Spark-side over the bytes, verified against DuckDB
    hashing the same staged files.

    Scale: parallelism = files (each file is one task — the source
    cannot split a file, by definition of whole-file semantics), so
    millions-of-small-files is a driver-listing problem first; the
    production mitigations are exactly the ones this repo stages
    elsewhere — consolidate small blobs into parquet binary columns
    (multimodal_dedup_binary's layout) or list via a manifest
    (scan_manifest_pruned). Column pruning is real: selecting only
    path/length skips content reads entirely."""
    import os

    base = binfiles_path_for_sf(sf_dir)
    if not os.path.isdir(base):
        docs = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 24)
            .select("doc_id", "text")
            .collect()
        )
        build = f"{base}.build-{os.getpid()}"
        os.makedirs(build, exist_ok=True)
        for r in docs:
            with open(f"{build}/doc_{r['doc_id']:04d}.txt", "w") as f:
                f.write(r["text"])
        try:
            os.rename(build, base)
        except OSError:
            import shutil

            shutil.rmtree(build, ignore_errors=True)  # lost the race
    bf = spark.read.format("binaryFile").load(f"{base}/*.txt")
    return bf.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "analytics_basket_affinity",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pc AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS part_orders
      FROM items GROUP BY 1
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS support
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, support,
           support * n.n_orders * 1000000
             // (ca.part_orders * cb.part_orders) AS lift_micro
    FROM pairs, n
    JOIN pc ca ON ca.l_partkey = part_a
    JOIN pc cb ON cb.l_partkey = part_b
    WHERE support >= 3
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
)
def analytics_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET AFFINITY — the frequent-itemset / association-rule
    primitive (A-priori's support counting + lift): part pairs
    co-purchased in one order, support-thresholded, lift in exact
    integer micro-units against the independence baseline. Top-20 under
    a total order (support desc, then pair) so the report
    hash-verifies.

    Scale: pair enumeration is a SELF-JOIN ON THE BASKET KEY — bounded
    by items-per-order (~7 ⇒ ~21 pairs), the same per-key-bounded
    argument as join_interval_overlap, never corpus². The distinct
    (order, part) projection partial-aggregates first; per-part counts
    and the order total are broadcast (dimension-sized); the support
    threshold prunes the pair table before the joins. At retail scale
    the classic refinement is frequency-sorted A-priori pruning —
    drop parts below min-support BEFORE pairing (the same
    document-frequency ordering dedup_ngram_jaccard_dford uses)."""
    # r15: items (scan + distinct shuffle) fed FIVE structurally
    # different consumers (order count, both self-join sides, both
    # per-part count chains) and re-executed for each — 20 Exchanges /
    # 8 scans. One lazy localCheckpoint computes the basket projection
    # once (guide §2.1); pc likewise (it feeds both lift sides).
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    pc = (
        items.groupBy("l_partkey")
        .agg(F.count("*").alias("part_orders"))
        .localCheckpoint(eager=False)
    )
    n_orders = items.select("l_orderkey").distinct().count()
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 3)
    )
    ca = F.broadcast(pc.select(F.col("l_partkey").alias("part_a"),
                               F.col("part_orders").alias("orders_a")))
    cb = F.broadcast(pc.select(F.col("l_partkey").alias("part_b"),
                               F.col("part_orders").alias("orders_b")))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .select(
            "part_a",
            "part_b",
            "support",
            (
                F.col("support") * F.lit(n_orders) * 1000000
            ).cast("bigint").alias("_num"),
            (F.col("orders_a") * F.col("orders_b")).alias("_den"),
        )
        .select(
            "part_a",
            "part_b",
            "support",
            F.expr("_num div _den").alias("lift_micro"),
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT user_id % 64) AS BIGINT) AS n_residues
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-BASED EXACT DISTINCT — Spark's roaring-style bitmap
    aggregate surface (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_or_agg / bitmap_count): ids map to
    (bucket, bit) coordinates, per-bucket bitmaps OR together
    mergeable-monoid style, and popcounts sum to the EXACT distinct
    count. The oracle is plain COUNT(DISTINCT) — same answer, which is
    the point: bitmaps trade the expand/dedup shuffle for fixed-width
    bitwise state.

    Scale: this is how warehouses make exact distinct cheap on DENSE
    integer domains — partial bitmaps OR map-side (32 Ki-bit pages),
    so the shuffle carries |groups|·|buckets touched| pages instead of
    |groups|·|distinct ids| rows; count-distinct-of-billions becomes
    bandwidth-bounded. Sparse/unbounded domains waste pages and fall
    back to HLL (agg_hll_sketch_merge) — dense ids, exact bitmaps;
    sparse ids, sketches. The second column demonstrates the re-keyed
    dense form (id % 64 — two pages under the 1-based coordinates)."""
    ev = load_table(spark, sf_dir, "events")

    def bitmap_distinct(expr: str, out: str) -> DataFrame:
        # Two-level page reduction: bucket pages OR map-side
        # (bitmap_construct_agg is a monoid), popcounts sum exactly.
        # Pages must be keyed by the VALUE's own bucket number — the
        # coordinates are 1-based, so value 0 is (bucket 0, pos 0) and
        # value 1 is (bucket 1, pos 0): OR-ing pages across foreign
        # bucket keys conflates them.
        pages = ev.groupBy(
            "event_type",
            F.expr(f"bitmap_bucket_number({expr})").alias("bucket"),
        ).agg(
            F.expr(
                f"bitmap_construct_agg(bitmap_bit_position({expr}))"
            ).alias("bm")
        )
        return pages.groupBy("event_type").agg(
            F.expr("sum(bitmap_count(bm))").alias(out)
        )

    return bitmap_distinct("user_id", "n_users").join(
        bitmap_distinct("user_id % 64", "n_residues"), "event_type"
    )


@query(
    "fn_array_hof_suite",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(list_reduce(list_prepend(0,
                  list_transform(ws, w -> len(w))),
                (a, x) -> a + x) AS BIGINT) AS total_chars,
           CAST(list_reduce(list_prepend(0,
                  list_transform(ws, w -> len(w))),
                (a, x) -> greatest(a, x)) AS INT)
             AS longest,
           array_to_string(
             list_transform(list_zip(ws[1:3], ws[2:4]),
                            p -> p[1] || '>' || p[2]), ',') AS bigram_head,
           CASE WHEN len(list_filter(ws, w -> w = 'spark')) > 0
                THEN 1 ELSE 0 END AS has_spark,
           CASE WHEN len(list_filter(ws, w -> len(w) >= 3)) = len(ws)
                THEN 1 ELSE 0 END AS all_ge3
    FROM t
    """,
)
def fn_array_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIGHER-ORDER-FUNCTION MATRIX — aggregate (fold), transform,
    zip_with, exists, forall: the lambda-expression tier the dedup /
    MinHash / packing operators lean on internally, exposed as one
    verified projection (DuckDB twins: list_reduce over a 0-prepended
    list ≡ aggregate with a zero initial accumulator; list_zip +
    list_transform ≡ zip_with; filter-length tests ≡ exists/forall —
    spelled as the filter forms in BOTH engines' SQL so the compared
    expressions are literally the same function of the list). The
    fold lambda must stay BRANCH-FREE on the DuckDB side: a CASE
    inside list_reduce cross-contaminates rows within a vectorized
    chunk in DuckDB 1.0 (26/200 rows wrong, reproduced) — greatest()
    computes the same max without the bug.

    Scale: all row-local, zero shuffles — but NOT codegen: Spark
    evaluates higher-order lambdas interpreted (the documented HOF
    cliff, verify skill §lambdas), which is WHY this repo's hot paths
    (n-gram shingles, signature folds) pre-shift with arrays_zip
    instead of per-position lambdas. This suite pins the semantics;
    the perf discipline lives in the operators."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    )
    t = docs.select("doc_id", F.split("text", " ").alias("ws"))
    lens = F.transform("ws", lambda w: F.length(w))
    return t.select(
        "doc_id",
        F.aggregate(
            lens, F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("total_chars"),
        F.aggregate(
            lens,
            F.lit(0),
            lambda a, x: F.when(x > a, x).otherwise(a),
        )
        .cast("int")
        .alias("longest"),
        F.array_join(
            F.zip_with(
                F.slice("ws", 1, 3),
                F.slice("ws", 2, 3),
                lambda a, b: F.concat(a, F.lit(">"), b),
            ),
            ",",
        ).alias("bigram_head"),
        F.when(F.exists("ws", lambda w: w == F.lit("spark")), 1)
        .otherwise(0)
        .alias("has_spark"),
        F.when(F.forall("ws", lambda w: F.length(w) >= 3), 1)
        .otherwise(0)
        .alias("all_ge3"),
    )


@query(
    "set_ops_multiset",
    oracle="""
    WITH c AS (SELECT o_custkey % 100 AS k FROM orders
               WHERE o_orderstatus = 'F'),
         s AS (SELECT o_custkey % 100 AS k FROM orders
               WHERE o_orderstatus = 'O')
    SELECT 'intersect_all' AS op, k, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT k FROM c INTERSECT ALL SELECT k FROM s)
    GROUP BY k
    UNION ALL
    SELECT 'except_all', k, CAST(count(*) AS BIGINT)
    FROM (SELECT k FROM c EXCEPT ALL SELECT k FROM s)
    GROUP BY k
    """,
)
def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET (bag-semantics) SET OPERATIONS — INTERSECT ALL / EXCEPT
    ALL, the duplicate-PRESERVING tier set_union_intersect_except's
    distinct forms skip: per key the intersection keeps min(n_a, n_b)
    copies and the difference max(n_a − n_b, 0) — the reconciliation
    arithmetic (inventory vs ledger, emitted vs acked) that distinct
    set ops silently destroy. Output is the per-key multiplicity table,
    so the min/max-difference laws are the verified content.

    Scale: Catalyst plans both as a single aggregate computing per-key
    counts on each side then replicating rows — one shuffle per
    operand, co-partitioned on the full row key; no sort, no pairwise
    matching. The grouped multiplicity output keeps the compared
    surface at |keys| rows regardless of duplication depth."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.where(F.col("o_orderstatus") == "F").select(
        (F.col("o_custkey") % 100).alias("k")
    )
    s = orders.where(F.col("o_orderstatus") == "O").select(
        (F.col("o_custkey") % 100).alias("k")
    )
    ia = (
        c.intersectAll(s)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    ea = (
        c.exceptAll(s)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    return ia.unionByName(ea)


# ---------------------------------------------------------------------------
# Nested-struct parquet: schema nesting + subfield pruning
# ---------------------------------------------------------------------------
def nested_path_for_sf(sf_dir: str) -> str:
    """Deterministic staged path for the nested-struct events table."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return f"/tmp/nested_events_v1_{(m.group(1) if m else '0.001')}"


DRIVER_NESTED = driver_path(nested_path_for_sf)


@query(
    "scan_nested_struct",
    oracle=f"""
    SELECT what.event_type AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT who.user_id) AS BIGINT) AS n_users,
           CAST(sum(what.cents) AS BIGINT) AS sum_cents
    FROM read_parquet('{DRIVER_NESTED}/*.parquet')
    WHERE who.segment = 'even'
    GROUP BY what.event_type
    """,
)
def scan_nested_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-STRUCT PARQUET — deep schemas (who.{{user_id, segment}},
    what.{{event_type, cents}}) read with SUBFIELD pruning and a
    nested-field predicate: the shape every telemetry/protobuf-derived
    lake table has. The staged table is written nested by this query
    (atomic build-dir + rename, the commit-log idiom); the aggregation
    touches three leaves and filters on a fourth — the scan's
    ReadSchema must carry only those leaves and PushedFilters the
    segment predicate (Spark's nestedSchemaPruning +
    parquet.filterPushdown on nested columns, pinned in
    tests/test_plans.py).

    Scale: subfield pruning is THE bytes-read lever on wide nested
    schemas (a 400-leaf telemetry row where a query reads 3 leaves);
    nested predicate pushdown prunes row groups by leaf statistics
    exactly as flat columns do. Both engines address leaves by the
    same dotted paths over the same files."""
    import os

    base = nested_path_for_sf(sf_dir)
    if not os.path.isdir(base):
        ev = load_table(spark, sf_dir, "events")
        nested = ev.select(
            "event_id",
            "ts",
            F.struct(
                "user_id",
                F.when((F.col("user_id") % 2) == 0, "even")
                .otherwise("odd")
                .alias("segment"),
            ).alias("who"),
            F.struct(
                "event_type",
                F.round(F.col("value") * 100)
                .cast("bigint")
                .alias("cents"),
            ).alias("what"),
        )
        build = f"{base}.build-{os.getpid()}"
        nested.write.mode("overwrite").parquet(build)
        try:
            os.rename(build, base)
        except OSError:
            import shutil

            shutil.rmtree(build, ignore_errors=True)  # lost the race
    df = spark.read.parquet(base)
    return (
        df.where(F.col("who.segment") == "even")
        .groupBy(F.col("what.event_type").alias("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct(F.col("who.user_id")).alias("n_users"),
            F.sum(F.col("what.cents")).cast("bigint").alias("sum_cents"),
        )
    )


@query(
    "sink_csv_quoted_roundtrip",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             p_name || ',"' || chr(10) || 'x""y,' AS tricky
      FROM part
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(('0x' || substr(md5(tricky), 1, 11))::BIGINT)
                AS BIGINT) AS md5_sum,
           CAST(sum(length(tricky)) AS BIGINT) AS total_chars
    FROM t
    """,
)
def sink_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV QUOTING TORTURE ROUND-TRIP — every value is adversarial
    (embedded delimiter, double quote, AND newline), written with
    standard RFC-4180 quoting and read back with multiLine (quoted
    newlines make records span physical lines — the option every naive
    CSV reader gets wrong). The compared surface is an order-free
    content fingerprint of the read-back values (count, Σ 44-bit md5,
    Σ length) against the oracle computing the same fingerprint from
    the ORIGINAL strings — so the check is byte-exact value
    preservation through the quoting layer, not just row counts.

    Scale: the write/read are embarrassingly parallel EXCEPT that
    multiLine CSV files are NOT splittable (a reader cannot start
    mid-file inside a quoted newline — the same physics as
    scan_text_splittable's multi-line records); production keeps
    quoted-newline CSV in many small files or re-encodes to parquet at
    the edge, both noted here because this query is the proof of WHY."""
    out = appcache.tempdir(prefix="csv_quoted_")
    part = load_table(spark, sf_dir, "part")
    tricky = F.concat(
        F.col("p_name"), F.lit(',"'), F.lit("\n"), F.lit('x""y,')
    )
    part.select("p_partkey", tricky.alias("tricky")).write.mode(
        "overwrite"
    ).option("header", "true").csv(out)
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .schema("p_partkey long, tricky string")
        .csv(out)
    )
    return back.agg(
        F.count("*").alias("n"),
        F.sum(
            F.expr(
                "CAST(conv(substring(md5(tricky), 1, 11), 16, 10)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("md5_sum"),
        F.sum(F.length("tricky")).cast("bigint").alias("total_chars"),
    )


@query(
    "analytics_gini_exact",
    oracle="""
    WITH s AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT spend,
             row_number() OVER (ORDER BY spend, o_custkey) AS i,
             count(*) OVER () AS n,
             sum(spend) OVER () AS t
      FROM s
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(t) AS BIGINT) AS total_cents,
           CAST(2 * sum(i * spend) - (max(n) + 1) * max(t) AS BIGINT)
             AS gini_num,
           CAST(max(n) * max(t) AS BIGINT) AS gini_den
    FROM r
    """,
)
def analytics_gini_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT GINI COEFFICIENT — the single-number inequality summary of
    the analytics_pareto_concentration curve, via the rank formula
    G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over spend sorted ascending
    with a key tie-break. Numerator and denominator emitted as exact
    BIGINTs (one division left to the consumer — the repo's standard
    exactness contract); Σ i·x at 1e5 customers × 1e7 cents ≈ 1e17
    stays in BIGINT headroom.

    Scale: per-customer collapse first (one shuffle), rank over the
    entity summary — identical shape to the Pareto curve, so the two
    share every scaling argument; at billions of entities the rank sum
    decomposes per partition (offset arithmetic, the
    pipeline_global_shuffle trick) instead of one global window."""
    s = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("spend")
        )
    )
    w = Window.orderBy("spend", "o_custkey")
    wa = Window.partitionBy()
    r = s.select(
        "spend",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wa).alias("n"),
        F.sum("spend").over(wa).alias("t"),
    )
    return r.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.max("t").cast("bigint").alias("total_cents"),
        (2 * F.sum(F.col("i") * F.col("spend"))
         - (F.max("n") + 1) * F.max("t"))
        .cast("bigint")
        .alias("gini_num"),
        (F.max("n") * F.max("t")).cast("bigint").alias("gini_den"),
    )


@query(
    "events_benford_screen",
    oracle="""
    WITH c AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
      WHERE value > 0
    ),
    d AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(count(*) AS BIGINT) AS n
      FROM c GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
    SELECT digit, n,
           CAST(n * 1000000 // t.total AS BIGINT) AS share_micro,
           CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                      WHEN 3 THEN 124939 WHEN 4 THEN 96910
                      WHEN 5 THEN 79181 WHEN 6 THEN 66947
                      WHEN 7 THEN 57992 WHEN 8 THEN 51153
                      ELSE 45757 END AS benford_micro
    FROM d, t
    """,
)
def events_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW SCREEN — the forensic-accounting first-digit test:
    leading-digit shares of the value column against Benford's
    log10(1+1/d) expectation (as fixed micro-unit literals, identical
    constants both engines — no runtime log). Fabricated or clamped
    numbers flunk it; the output is the per-digit observed-vs-expected
    table an auditor thresholds. The digit comes from the DECIMAL
    STRING of integer cents — no float log10, no engine divergence.

    Scale: a map-side digit projection and one 9-row groupBy — the
    cheapest possible full-corpus screen; per-segment screens add the
    segment key to the groupBy. (The synthetic uniform-ish values are
    EXPECTED to deviate from Benford — the query reports, thresholds
    are the consumer's.)"""
    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    d = (
        ev.select(
            F.substring(
                F.round(F.col("value") * 100).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    t = d.agg(F.sum("n").alias("total")).collect()[0]["total"]
    benford = (
        F.when(F.col("digit") == 1, 301030)
        .when(F.col("digit") == 2, 176091)
        .when(F.col("digit") == 3, 124939)
        .when(F.col("digit") == 4, 96910)
        .when(F.col("digit") == 5, 79181)
        .when(F.col("digit") == 6, 66947)
        .when(F.col("digit") == 7, 57992)
        .when(F.col("digit") == 8, 51153)
        .otherwise(45757)
    )
    return d.select(
        "digit",
        "n",
        F.expr(f"n * 1000000 div {t}").alias("share_micro"),
        benford.alias("benford_micro"),
    )


@query(
    "fn_datetime_interval_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE)
                + to_months(CAST(o_custkey % 12 AS INT)) AS DATE)
             AS plus_months,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE)
             AS month_end,
           CAST((year(o_orderdate) * 12 + month(o_orderdate))
                - (1995 * 12 + 1) AS INT) AS month_index,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
           CAST(date_part('dow', o_orderdate) + 1 AS INT) AS dow
    FROM orders WHERE o_orderkey < 400
    """,
)
def fn_datetime_interval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-INTERVAL FUNCTION MATRIX — the month-arithmetic tier
    fn_datetime_suite's day-level functions skip: add_months (both
    engines clamp 31st + 1 month to the month end — verified
    semantics, not assumed), last_day, a linear month index (the
    integer-safe replacement for fractional months_between — engines
    disagree on its day-fraction denominator, so the verified surface
    is the index), quarter, ISO week truncation, and the
    day-of-week shift (Spark dayofweek is 1=Sunday ⇄ DuckDB dow
    0=Sunday — the documented +1 equivalence).

    Scale: pure codegen projection over a pruned, pushed-down scan —
    calendar functions are the classic partition-pruning keys, and
    every one here folds to the same integer arithmetic Catalyst
    prunes partitions with."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 400
    )
    return orders.select(
        "o_orderkey",
        F.add_months(
            F.to_date("o_orderdate"), (F.col("o_custkey") % 12).cast("int")
        ).alias("plus_months"),
        F.last_day(F.to_date("o_orderdate")).alias("month_end"),
        (
            F.year("o_orderdate") * 12
            + F.month("o_orderdate")
            - (1995 * 12 + 1)
        )
        .cast("int")
        .alias("month_index"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.date_trunc("week", "o_orderdate").cast("date").alias(
            "week_start"
        ),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
    )


@query(
    "analytics_survival_curve",
    oracle="""
    WITH span AS (
      SELECT o_custkey,
             CAST((year(max(o_orderdate)) * 12 + month(max(o_orderdate)))
                  - (year(min(o_orderdate)) * 12 + month(min(o_orderdate)))
                  AS INT) AS months_active
      FROM orders GROUP BY o_custkey
    ),
    k AS (
      SELECT unnest(generate_series(0, months_active)) AS month_k
      FROM span
    ),
    t AS (SELECT count(*) AS n_cust FROM span)
    SELECT CAST(month_k AS INT) AS month_k,
           CAST(count(*) AS BIGINT) AS n_surviving,
           count(*) * 1000000 // t.n_cust AS survival_micro
    FROM k, t
    GROUP BY month_k, t.n_cust
    """,
)
def analytics_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOMER SURVIVAL CURVE — S(k) = share of customers whose
    observed lifetime (months between first and last order) reaches k:
    the Kaplan-Meier shape under complete observation (no censoring
    term — every lifetime here is fully observed; the censored
    extension divides by the at-risk count instead of the cohort
    total). Computed by exploding each lifetime into its survived
    month indexes — counting "≥ k" for all k in ONE aggregation pass
    instead of one filtered scan per k. Integer month indexes and
    micro-unit shares hash-verify.

    Scale: per-customer span collapses first (one shuffle); the
    explode is bounded by max lifetime in months (≤ ~80 here), so the
    exploded table is |customers|·avg-lifetime — entity-sized × a
    small constant, then a ≤ 80-row rollup. The curve over a billion
    customers costs one groupBy and one bounded flatMap."""
    span = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (
                (F.year(F.max("o_orderdate")) * 12
                 + F.month(F.max("o_orderdate")))
                - (F.year(F.min("o_orderdate")) * 12
                   + F.month(F.min("o_orderdate")))
            )
            .cast("int")
            .alias("months_active")
        )
    )
    n_cust = span.count()
    k = span.select(
        F.explode(F.sequence(F.lit(0), F.col("months_active"))).alias(
            "month_k"
        )
    )
    return k.groupBy(F.col("month_k").cast("int").alias("month_k")).agg(
        F.count("*").alias("n_surviving"),
        F.expr(f"count(*) * 1000000 div {n_cust}").alias(
            "survival_micro"
        ),
    )


@query(
    "analytics_order_backlog_curve",
    oracle="""
    WITH iv AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS open_m,
             CAST(date_trunc('month',
                  CAST(o_orderdate AS DATE)
                  + CAST(substr(o_orderpriority, 1, 1) AS INT) * 5)
                  AS DATE) AS close_m
      FROM orders
    ),
    delta AS (
      SELECT open_m AS month, 1 AS d FROM iv
      UNION ALL
      SELECT CAST(close_m + to_months(1) AS DATE), -1 FROM iv
    ),
    g AS (
      SELECT month, CAST(sum(d) AS BIGINT) AS net FROM delta
      GROUP BY month
    )
    SELECT month, net,
           CAST(sum(net) OVER (ORDER BY month
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS open_backlog
    FROM g
    """,
)
def analytics_order_backlog_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPEN-ORDER BACKLOG TIME SERIES — how many orders are concurrently
    open each month, by the sweep-line reduction: every interval emits
    +1 at its opening month and −1 the month after it closes, and the
    running sum of net deltas IS the backlog curve. The O(N·span)
    explode-a-grid alternative (rollup_gap_fill's shape) and the
    O(N²) self-join are both dominated: the event-delta form is O(N)
    plus a calendar-sized prefix sum — the standard trick for
    interval-count-over-time (concurrent sessions, open tickets,
    active loans).

    Scale: the delta projection is map-side (2 rows per interval,
    map-combined into the month groupBy's single shuffle); the running
    sum is a window over the ~80-row calendar summary. Months with no
    events are absent (no backlog CHANGE) — join a month spine for a
    dense curve; the curve value is still correct at every emitted
    point."""
    iv = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("open_m"),
        F.date_trunc(
            "month",
            F.date_add(
                F.to_date("o_orderdate"),
                F.substring("o_orderpriority", 1, 1).cast("int") * 5,
            ),
        )
        .cast("date")
        .alias("close_m"),
    )
    # r15: the +1/-1 backlog deltas as a 2-struct explode instead of a
    # union of two projections — one orders scan, not one per endpoint.
    delta = iv.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("open_m").alias("month"), F.lit(1).alias("d")
                ),
                F.struct(
                    F.add_months("close_m", 1).alias("month"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("md")
    ).select("md.month", "md.d")
    g = delta.groupBy("month").agg(F.sum("d").cast("bigint").alias("net"))
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        "month",
        "net",
        F.sum("net").over(w).cast("bigint").alias("open_backlog"),
    )


@query(
    "window_reset_running_sum",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_reset
      FROM events WHERE user_id < 30
    ),
    seg AS (
      SELECT user_id, ts, event_id, cents, is_reset,
             sum(is_reset) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS epoch
      FROM o
    )
    SELECT event_id, user_id, CAST(epoch AS INT) AS epoch,
           CAST(sum(cents) OVER (PARTITION BY user_id, epoch
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS running_since_reset
    FROM seg
    """,
)
def window_reset_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL-RESET RUNNING SUM — a running accumulation that
    restarts at marker rows ("spend since last signup", counters since
    deploy, mileage since service): SQL windows cannot express a reset
    directly, so the island-anchor trick runs twice — a running count
    of markers assigns each row an EPOCH, and the running sum
    re-partitioned by (key, epoch) restarts exactly at each marker.
    The same two-window reduction as gaps-and-islands and the gap
    sessionizer, aimed at accumulation instead of segmentation.

    Scale: both windows order by the same (ts, event_id) key, and the
    second's (user, epoch) partitioning refines the first's (user) —
    one shuffle+sort serves the pair (Catalyst reuses the exchange;
    the refined partition needs no re-shuffle because epoch is a
    function of the sort prefix). Per-row state is one accumulator."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 30)
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "signup", 1)
        .otherwise(0)
        .alias("is_reset"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = o.withColumn(
        "epoch",
        F.sum("is_reset")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    w2 = (
        Window.partitionBy("user_id", "epoch")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return seg.select(
        "event_id",
        "user_id",
        "epoch",
        F.sum("cents").over(w2).cast("bigint").alias(
            "running_since_reset"
        ),
    )


@query(
    "sql_union_by_name_missing_cols",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    b AS (
      SELECT o_orderkey, o_orderpriority
      FROM orders WHERE o_orderkey % 3 = 1
    ),
    u AS (
      SELECT o_orderkey, o_orderstatus, cents, NULL AS o_orderpriority
      FROM a
      UNION ALL BY NAME
      SELECT o_orderkey, o_orderpriority FROM b
    )
    SELECT coalesce(o_orderstatus, '?') AS status,
           coalesce(o_orderpriority, '?') AS priority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(coalesce(cents, 0)) AS BIGINT) AS cents
    FROM u GROUP BY 1, 2
    """,
)
def sql_union_by_name_missing_cols(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNION BY NAME with MISSING COLUMNS — the heterogeneous-batch
    append every evolving pipeline needs: two slices with different
    column sets union by NAME (not position), absent columns
    NULL-filled (`unionByName(allowMissingColumns=True)` ⇄ DuckDB
    `UNION ALL BY NAME`). Positional UNION would silently misalign the
    moment schemas drift — name-based resolution is the
    schema-evolution-safe form, and the scan_schema_evolution reader
    is this same rule applied at the file level.

    Scale: union is a no-shuffle operator; NULL-fill is a zero-cost
    projection. The practical caveat at scale is TYPE drift on
    same-named columns (int→long promotions union fine; string→int
    does not) — the mergeSchema rules, enforced at analysis time, not
    runtime."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    b = orders.where(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey", "o_orderpriority"
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy(
        F.coalesce("o_orderstatus", F.lit("?")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("?")).alias("priority"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.coalesce("cents", F.lit(0))).cast("bigint").alias("cents"),
    )


@query(
    "agg_histogram_equi_depth",
    oracle="""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    b AS (
      SELECT cents,
             ntile(8) OVER (ORDER BY cents, o_orderkey) AS bucket
      FROM c
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents
    FROM b GROUP BY bucket
    """,
)
def agg_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH HISTOGRAM — 8 buckets of (near-)equal population with
    their value boundaries: the optimizer-statistics form (selectivity
    estimation wants equal-mass buckets; agg_histogram_fixed's
    equal-WIDTH form starves in the tails of skewed money data).
    ntile with a total tie-break makes bucket membership deterministic,
    so boundaries and counts hash-verify exactly.

    Scale: ntile over a global order is summary-appropriate here
    (entity-scale input); the production form at corpus scale computes
    the 7 cut values via approx_percentile (the
    events_rfm_segmentation_approx swap, broadcast as literals) and
    buckets by comparison — same report, no global sort. Both forms'
    boundaries converge as the sketch accuracy rises; this exact form
    is also the oracle for that swap."""
    c = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w = Window.orderBy("cents", "o_orderkey")
    b = c.select("cents", F.ntile(8).over(w).alias("bucket"))
    return b.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


# ---------------------------------------------------------------------------
# Drawdown curve (running-peak shortfall of monthly revenue)
# ---------------------------------------------------------------------------


@query(
    "window_drawdown",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT period, rev_cents,
             max(rev_cents) OVER (ORDER BY period
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak_cents
      FROM d
    )
    SELECT period, rev_cents, CAST(peak_cents AS BIGINT) AS peak_cents,
           CAST(peak_cents - rev_cents AS BIGINT) AS drawdown_cents,
           CAST((peak_cents - rev_cents) * 1000000 // peak_cents
                AS BIGINT) AS drawdown_micro
    FROM p
    """,
)
def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRAWDOWN CURVE — the running-peak shortfall (finance's max-
    drawdown generalized to any KPI series): per month, revenue, the
    best month SO FAR, and how far below that peak the current month
    sits, absolute cents and scaled-integer relative micro. The
    max-drawdown row is just the curve's argmax — emitting the whole
    curve keeps the operator composable (alerting reads the last row,
    reporting plots the series). All exact integers; the relative
    drawdown is one positive//positive scaled div.

    Scale: the corpus collapses to one row per month in a single
    partial-agg'd shuffle; the running-max window runs on the
    calendar-bounded summary (a ~80-row single partition — acceptable
    because it IS the final report; the per-series form (``_series``)
    adds partitionBy and parallelizes)."""
    return _drawdown(spark, sf_dir, per_priority=False)


@query(
    "window_drawdown_series",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority AS series,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    p AS (
      SELECT series, period, rev_cents,
             max(rev_cents) OVER (PARTITION BY series ORDER BY period
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak_cents
      FROM d
    )
    SELECT series, period, rev_cents,
           CAST(peak_cents AS BIGINT) AS peak_cents,
           CAST(peak_cents - rev_cents AS BIGINT) AS drawdown_cents,
           CAST((peak_cents - rev_cents) * 1000000 // peak_cents
                AS BIGINT) AS drawdown_micro
    FROM p
    """,
)
def window_drawdown_series(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-SERIES DRAWDOWN CURVES — one running-peak shortfall curve PER
    ORDER PRIORITY, monthly revenue in exact cents, relative drawdown as
    a scaled-integer micro ratio. The running-max window is keyed by
    series, so the per-series sorts are independent tasks — the global
    form's single-partition window becomes an embarrassingly-parallel
    keyed window with the same frame. peak_cents ≥ rev_cents > 0 per
    construction, so the denominator needs no guard."""
    return _drawdown(spark, sf_dir, per_priority=True)


def _drawdown(spark: SparkSession, sf_dir: str, per_priority: bool) -> DataFrame:
    """Monthly revenue running-peak drawdown: one global series, or one
    ``series`` per order priority. The micro ratio is DECIMAL(38,0)-
    widened (period revenue cents ~8e11 at sf3; ×1e6 crosses BIGINT by
    ~sf35); the per-series form also divides by the DECIMAL peak."""
    o = load_table(spark, sf_dir, "orders")
    keys = ["series"] if per_priority else []
    series = [F.col("o_orderpriority").alias("series")] if per_priority else []
    d = o.groupBy(
        *series,
        F.date_trunc("month", "o_orderdate").cast("date").alias("period"),
    ).agg(F.sum(_cents("o_totalprice")).cast("bigint").alias("rev_cents"))
    w = (
        Window.partitionBy(*keys)
        .orderBy("period")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = d.select(
        *keys,
        "period",
        "rev_cents",
        F.max("rev_cents").over(w).cast("bigint").alias("peak_cents"),
    )
    peak = "CAST(peak_cents AS DECIMAL(38,0))" if per_priority else "peak_cents"
    return p.select(
        *keys,
        "period",
        "rev_cents",
        "peak_cents",
        (F.col("peak_cents") - F.col("rev_cents"))
        .cast("bigint")
        .alias("drawdown_cents"),
        F.expr(
            "CAST(CAST(peak_cents - rev_cents AS DECIMAL(38,0))"
            f" * 1000000 div {peak} AS BIGINT)"
        ).alias("drawdown_micro"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH x AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    cum AS (
      SELECT flag, cents, w,
             sum(w) OVER (PARTITION BY flag
                          ORDER BY cents, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY flag) AS total
      FROM x
    )
    SELECT flag,
           CAST(min(cents) AS BIGINT) AS weighted_median_cents,
           CAST(max(total) AS BIGINT) AS total_weight
    FROM cum
    WHERE 2 * cw >= total
    GROUP BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED MEDIAN — the quantity-weighted middle price per return
    flag: the statistic inventory/pricing teams want when a 100-unit
    line should pull the median 100× harder than a 1-unit line (no
    engine ships it natively; percentile() weights rows equally). The
    lower-weighted-median definition — smallest value whose cumulative
    weight reaches half the total — is pure integer arithmetic over a
    totally-ordered cumulative sum, so it hash-verifies exactly; any
    weighted quantile q swaps the 2·cw ≥ total comparison for
    q-cross-multiplication.

    Scale: ONE shuffle on the group key serves the cumulative window
    and the total; the threshold filter + min collapse the group
    without materializing ranks. At extreme per-group cardinality the
    sort is the cost — the ``_sketch`` form replaces it with a weighted
    log-bucket sketch, the same exact-to-sketch ladder as the
    unweighted percentile family."""
    x = _weighted_prices(spark, sf_dir)
    wcum = (
        Window.partitionBy("flag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("flag")
    cum = x.select(
        "flag",
        "cents",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("total"),
    )
    return (
        cum.where(2 * F.col("cw") >= F.col("total"))
        .groupBy("flag")
        .agg(
            F.min("cents").alias("weighted_median_cents"),
            F.max("total").cast("bigint").alias("total_weight"),
        )
    )


@query(
    "agg_weighted_median_sketch",
    oracle="""
    WITH x AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    cum AS (
      SELECT flag, cents, w,
             sum(w) OVER (PARTITION BY flag
                          ORDER BY cents, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY flag) AS total
      FROM x
    )
    SELECT flag,
           CAST(min(cents) AS BIGINT) AS weighted_median_cents,
           CAST(max(total) AS BIGINT) AS total_weight,
           TRUE AS sketch_in_envelope
    FROM cum
    WHERE 2 * cw >= total
    GROUP BY flag
    """,
)
def agg_weighted_median_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED MEDIAN, SKETCH FORM — a natively WEIGHTED mergeable
    quantile sketch: log-bucket (DDSketch-style) cells
    ``floor(ln(cents) / ln(1.01))`` with ``sum(w)`` per cell, so the
    quantity weight enters the sketch as an ADDEND, never as row
    multiplicity (expanding each row w times is the anti-pattern: it
    multiplies the rows an ObjectHashAggregate must see). One
    whole-stage-codegen hash aggregate over the scan; cell count is
    bounded by the VALUE RANGE (≤ ~1.4k cells per flag for any cents
    domain under 10^6, independent of row count), the per-cell sums are
    map-side combinable and the sketch merges by cell-wise addition —
    the 100 TB shape. The sketch's q=0.5 point is the upper bound of
    the first cell where cumulative weight crosses half the total
    (cumulated over the ≤1.4k collected cells driver-side — a bounded
    control table).

    The reported median/total are EXACT (the hash gate re-verifies
    them), computed TWO-PHASE from the same cells: the cell sums locate
    the crossing cell and its exact below-weight, so the exact pass is
    a codegen filter to the ~2 relevant cells per flag (~1/500 of the
    rows) plus a window over that narrow set with the below-weight as a
    literal offset — no per-flag global sort. The sketch feeds
    ``sketch_in_envelope`` — TRUE iff the sketch point's
    cumulative-weight position lies in [45%, 55%] of the group's total
    weight (20*cw_le >= 9*total and 20*cw_lt <= 11*total,
    integer-exact; gamma=1.01 gives ≤1% value error, comfortably inside
    the band); its rank-counts fuse into the narrow pass as conditional
    sums (cells <= crossing carry cents < b by construction, cells >
    crossing+1 carry cents > b, so only crossing+1 rows are compared to
    b row-level). Zero full-data shuffles or sorts remain: one
    mergeable cell aggregate + one narrow refinement."""
    import math

    x = _weighted_prices(spark, sf_dir)
    gamma = 1.01
    lg = math.log(gamma)
    xc = x.withColumn(
        "cell",
        F.floor(F.log(F.col("cents").cast("double")) / F.lit(lg)).cast(
            "bigint"
        ),
    )
    cells = (
        xc.groupBy("flag", "cell").agg(F.sum("w").alias("cw")).collect()
    )
    by_flag: dict[str, list[tuple[int, int]]] = {}
    for r in cells:
        by_flag.setdefault(r["flag"], []).append((r["cell"], r["cw"]))
    # Per-flag control scalars from the exact cell sums: the crossing
    # cell (where cumulative weight first reaches half the total), the
    # exact weight below it, the sketch point b (crossing cell's upper
    # bound), and the exact weight at-or-below the crossing cell (the
    # envelope base — every row in cells <= crossing has cents < b,
    # every row in cells > crossing+1 has cents > b, so only the
    # crossing+1 cell needs row-level inspection against b).
    ctl: dict[str, tuple[int, int, int, int, int]] = {}
    for fl, cs in by_flag.items():
        cs.sort()
        total = sum(cw for _, cw in cs)
        acc = 0
        for cell, cw in cs:
            if 2 * (acc + cw) >= total:
                b = int(math.ceil(gamma ** (cell + 1)))
                ctl[fl] = (cell, acc, total, b, acc + cw)
                break
            acc += cw

    def _case(idx: int, dtype: str = "bigint"):
        c = F.lit(None).cast(dtype)
        for fl, vals in ctl.items():
            c = F.when(F.col("flag") == F.lit(fl), F.lit(vals[idx])).otherwise(
                c
            )
        return c

    cross_case, below_case, total_case, b_case, le_below_case = (
        _case(0),
        _case(1),
        _case(2),
        _case(3),
        _case(4),
    )
    narrow = xc.where(
        (F.col("cell") == cross_case) | (F.col("cell") == cross_case + 1)
    )
    wcum = (
        Window.partitionBy("flag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = narrow.select(
        "flag",
        "cents",
        "cell",
        "w",
        cross_case.alias("cross"),
        total_case.alias("total"),
        b_case.alias("b"),
        le_below_case.alias("le_below"),
        (
            below_case
            + F.sum(F.when(F.col("cell") == cross_case, F.col("w")).otherwise(0)).over(
                wcum
            )
        ).alias("cw"),
    )
    return cum.groupBy("flag").agg(
        F.min(
            F.when(
                (F.col("cell") == F.col("cross"))
                & (2 * F.col("cw") >= F.col("total")),
                F.col("cents"),
            )
        )
        .cast("bigint")
        .alias("weighted_median_cents"),
        F.max("total").cast("bigint").alias("total_weight"),
        (
            (
                20
                * (
                    F.max("le_below")
                    + F.sum(
                        F.when(
                            (F.col("cell") == F.col("cross") + 1)
                            & (F.col("cents") <= F.col("b")),
                            F.col("w"),
                        ).otherwise(0)
                    )
                )
                >= 9 * F.max("total")
            )
            & (
                20
                * (
                    F.max("le_below")
                    + F.sum(
                        F.when(
                            (F.col("cell") == F.col("cross") + 1)
                            & (F.col("cents") < F.col("b")),
                            F.col("w"),
                        ).otherwise(0)
                    )
                )
                <= 11 * F.max("total")
            )
        ).alias("sketch_in_envelope"),
    )


def _weighted_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(flag, cents, w, l_orderkey, l_linenumber): each line's exact
    price cents weighted by its quantity, with the total-order key."""
    return load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
