"""Join operators (SURVEY.md §2.B "Joins").

Strategy notes for 100 TB scale, encoded in each query:

- Dimension tables (region 5, nation 25, supplier, part) are always
  `broadcast()` — no shuffle of the fact side, the single most important
  join decision at scale.
- Fact-fact equi-joins (orders ⋈ lineitem) shuffle on the join key; AQE
  handles skew splitting (session.py enables skewJoin).
- Semi/anti joins express EXISTS/NOT EXISTS without materializing the
  right side per match — Spark keeps only the key set.
- The as-of join is implemented as union+window (a single sort-merge pass)
  rather than a range join — O(n log n) instead of O(n·m), the only shape
  that survives a 100 TB event stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pubsub_spark.functions.rounding import r2
from cdc_pubsub_spark.paths import work_dir
from cdc_pubsub_spark.registry import register
from cdc_pubsub_spark.tables import finalize_cached, load


@register(
    "join_inner_hash",
    category="joins",
    oracle="""
    SELECT
      c_mktsegment,
      count(*)                    AS n_orders,
      round(sum(o_totalprice), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders equi-join, revenue per market segment.

    Left unhinted: AQE picks broadcast-hash while customer fits, falls
    back to shuffled hash/SMJ beyond the threshold — the right default
    for a fact-dim join whose dim grows with scale factor.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_broadcast",
    category="joins",
    oracle="""
    SELECT r_name, count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dim broadcast join (region is 5 rows at every scale factor).

    Explicit `broadcast()` hint: the 100 TB plan must never shuffle the
    big side against a 5-row table.
    """
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "join_multiway",
    category="joins",
    oracle="""
    SELECT
      r_name,
      n_name,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      count(*)                                          AS n_lineitems
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join (TPC-H-Q5 shape): region⋈nation⋈customer⋈orders⋈lineitem.

    Join order is written smallest-out (dims broadcast onto customer,
    then one shuffle each for orders and lineitem on their keys); the
    o_orderstatus filter is pushed below the lineitem join so the big
    fact join sees only 'F' orders.
    """
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    lineitem = load(spark, sf_dir, "lineitem")
    cust_dim = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        orders.join(cust_dim, orders.o_custkey == cust_dim.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "join_left_outer",
    category="joins",
    oracle="""
    SELECT
      c_custkey,
      count(o_orderkey)                         AS n_orders,
      round(coalesce(sum(o_totalprice), 0), 2)  AS revenue
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    WHERE c_custkey <= 500
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: customers with and without orders (null-aware agg).

    count(o_orderkey) counts only matched rows; customers with zero
    orders survive with revenue 0 — the null-preserving semantics an
    inner join would destroy.
    """
    customer = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("revenue"),
        )
    )


@register(
    "join_full_outer",
    category="joins",
    oracle="""
    WITH lo AS (
      SELECT c_custkey AS k, c_acctbal FROM customer WHERE c_custkey <= 100
    ), hi AS (
      SELECT o_custkey AS k, round(sum(o_totalprice), 2) AS spent
      FROM orders WHERE o_custkey BETWEEN 80 AND 180 GROUP BY o_custkey
    )
    SELECT
      coalesce(lo.k, hi.k)            AS custkey,
      round(coalesce(c_acctbal, 0), 2) AS acctbal,
      coalesce(spent, 0)              AS spent,
      (lo.k IS NULL)                  AS only_right,
      (hi.k IS NULL)                  AS only_left
    FROM lo FULL OUTER JOIN hi ON lo.k = hi.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over partially-overlapping key ranges.

    Both unmatched sides survive with null indicators — exercised on
    deliberately disjoint-ish ranges so all three match classes
    (left-only / both / right-only) appear in the result.
    """
    lo = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 100)
        .select(F.col("c_custkey").alias("lk"), "c_acctbal")
    )
    hi = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").between(80, 180))
        .groupBy(F.col("o_custkey").alias("rk"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spent"))
    )
    return lo.join(hi, lo.lk == hi.rk, "full").select(
        F.coalesce(F.col("lk"), F.col("rk")).alias("custkey"),
        F.round(F.coalesce(F.col("c_acctbal"), F.lit(0.0)), 2).alias("acctbal"),
        F.coalesce(F.col("spent"), F.lit(0.0)).alias("spent"),
        F.col("lk").isNull().alias("only_right"),
        F.col("rk").isNull().alias("only_left"),
    )


@register(
    "join_semi",
    category="joins",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one finished order (EXISTS).

    Semi join ships only the key column of the right side and
    deduplicates it — at scale this is a broadcast of distinct keys, not
    a join materialization.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@register(
    "join_anti",
    category="joins",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all (NOT EXISTS)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "join_theta_range",
    category="joins",
    oracle="""
    SELECT
      p_size,
      count(*)                   AS n_matches,
      round(avg(l_quantity), 2)  AS avg_qty
    FROM part
    JOIN lineitem
      ON l_quantity BETWEEN p_size - 2 AND p_size + 2
    WHERE p_partkey <= 100 AND l_orderkey <= 1000
    GROUP BY p_size
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join: lineitems within ±2 of part size.

    Physical plan: broadcast-nested-loop with the small (filtered) part
    side broadcast. Pure theta joins don't hash-partition; the scale
    path is (a) keep the broadcast side small, or (b) discretize the
    range into buckets and turn it into an equi-join on bucket id — the
    same banding trick MinHashLSH uses (llmops.dedup_near).
    """
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    cond = (F.col("l_quantity") >= F.col("p_size") - 2) & (
        F.col("l_quantity") <= F.col("p_size") + 2
    )
    return (
        F.broadcast(part)
        .join(li, cond)
        .groupBy("p_size")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        )
    )


@register(
    "join_cross",
    category="joins",
    oracle="""
    SELECT r_name, count(*) AS n_pairs, count(DISTINCT s_suppkey) AS n_suppliers
    FROM region CROSS JOIN supplier
    GROUP BY r_name
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (region × supplier), counted per region.

    crossJoin is explicit in the API by design — accidental cartesian
    products are the classic scale killer; here the 5-row side is
    broadcast so cost is |supplier| × 5.
    """
    region = load(spark, sf_dir, "region")
    supplier = load(spark, sf_dir, "supplier")
    return (
        F.broadcast(region)
        .crossJoin(supplier)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
    )


@register(
    "join_skew_salted",
    category="joins",
    oracle="""
    WITH fact AS (
      SELECT event_id,
             CASE WHEN user_id % 10 <> 0 THEN 0 ELSE user_id END AS hot_key,
             value
      FROM events
    ),
    dim AS (
      SELECT DISTINCT CASE WHEN user_id % 10 <> 0 THEN 0 ELSE user_id END AS hot_key
      FROM events
    )
    SELECT f.hot_key, count(*) AS n, round(sum(f.value), 2) AS total_value
    FROM fact f JOIN dim d ON f.hot_key = d.hot_key
    GROUP BY f.hot_key
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via explicit salting.

    The fact side is deliberately skewed (~90% of rows collapse onto
    hot_key 0 — the shape of a hot tenant/topic at 100 TB). The salt
    decomposes the hot key across 16 shuffle partitions: the fact side
    gets a deterministic salt (event_id % 16), the dim side explodes ×16,
    and the join runs on (key, salt) — identical result to the unsalted
    join (the oracle), but no single reducer receives the whole hot key.
    This is the manual fallback for the cases AQE skew-join splitting
    can't reach (it only splits sort-merge joins post-shuffle, only
    when nothing sits between the Sort and the shuffle read, and only
    at mapper boundaries — all three limits demonstrated live in
    tests/test_plans.py::test_aqe_skew_join_split_engages_on_planted_hot_key).
    """
    n_salt = 16
    ev = load(spark, sf_dir, "events")
    hot_key = F.when(F.col("user_id") % 10 != 0, F.lit(0)).otherwise(F.col("user_id"))
    fact = ev.select(
        hot_key.alias("hot_key"),
        (F.col("event_id") % n_salt).alias("salt"),
        "value",
    )
    dim = (
        ev.select(hot_key.alias("hot_key"))
        .distinct()
        .select(
            "hot_key",
            F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
        )
    )
    return (
        fact.join(dim, ["hot_key", "salt"])
        .groupBy("hot_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "join_bucketed_colocated",
    category="joins",
    bench=False,  # includes a one-time bucketed-table write (fixture IO)
    oracle="""
    SELECT o_orderpriority,
           count(*)                                          AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketed tables.

    Both sides are written `bucketBy(8, key)` + sorted — Spark's bucketed
    layout co-locates equal keys in equal bucket files, so the sort-merge
    join reads both sides bucket-by-bucket with NO shuffle exchange
    (pinned in tests/test_plans.py). This is the 100 TB answer for a
    repeatedly-joined fact pair: pay the partitioned write once, skip the
    dominant shuffle on every subsequent join. The merge hint keeps AQE
    from substituting a broadcast at toy scale so the plan under test is
    the one that matters at scale.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    sfx = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    t_orders, t_li = f"bkt_orders_{sfx}", f"bkt_lineitem_{sfx}"

    def ensure_bucketed(table: str, df: DataFrame, key: str) -> None:
        # Idempotent create (the reference's ensureTopic shape,
        # publisher.go:99-129): if the catalog lacks the table, clear any
        # stale location left by a previous session before writing — the
        # in-memory catalog doesn't survive restarts but the warehouse
        # dir does.
        if spark.catalog.tableExists(table):
            return
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        loc = os.path.join(wh, table.lower())
        shutil.rmtree(loc, ignore_errors=True)
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key).saveAsTable(table)

    ensure_bucketed(t_orders, orders, "o_orderkey")
    ensure_bucketed(t_li, li, "l_orderkey")
    bo = spark.table(t_orders)
    bl = spark.table(t_li)
    return (
        bo.hint("merge")
        .join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "join_asof",
    category="joins",
    oracle="""
    WITH w AS (
      SELECT
        event_type,
        value,
        last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
          OVER (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_purchase_value
      FROM events
    )
    SELECT
      event_type,
      count(*)                                          AS n_events,
      count(prior_purchase_value)                       AS n_with_prior,
      round(avg(value - prior_purchase_value), 2)       AS avg_delta
    FROM w
    GROUP BY event_type
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the latest strictly-prior
    'purchase' event of the same user.

    Implemented as a single window pass (`last(..., ignorenulls=True)`
    over rows-preceding) instead of a range join: O(n log n) with one
    shuffle on user_id, versus the O(n·m) per-key range join a naive
    formulation produces. This is the canonical scalable merge-asof on
    Spark, and the CDC "state as of timestamp" semantic
    (reference README.md:27, `WITH updated` cursor ordering).
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("prior_purchase_value", prior)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("prior_purchase_value").alias("n_with_prior"),
            F.round(F.avg(F.col("value") - F.col("prior_purchase_value")), 2).alias(
                "avg_delta"
            ),
        )
    )


@register(
    "join_asof_forward",
    category="joins",
    oracle="""
    WITH w AS (
      SELECT
        event_type,
        value,
        epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        first_value(CASE WHEN event_type = 'error'
                         THEN epoch_us(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
          OVER (PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP), event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          AS next_error_us
      FROM events
    )
    SELECT
      event_type,
      count(*)                                     AS n_events,
      count(next_error_us)                         AS n_with_next,
      CAST(sum((next_error_us - tus) // 1000000) AS BIGINT)
                                                   AS total_secs_to_error
    FROM w
    GROUP BY event_type
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each event matched to the NEXT strictly-later
    'error' event of the same user — time-to-failure labeling, the
    mirror of join_asof's lookup-latest-state direction (and the label
    side of a feature-store join: features as-of BACKWARD, outcomes
    as-of FORWARD, which must never flip direction or the dataset
    leaks the future).

    Same single-window-pass shape as join_asof: first(..., ignorenulls)
    over rows-FOLLOWING — one shuffle on user_id, O(n log n), never a
    per-key range join. The wait aggregate stays in INTEGER microseconds
    end-to-end (per-row integral-div to seconds, then sum) — no float
    path, so the hash can't wobble on an avg/floor boundary.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_error = F.first(
        F.when(F.col("event_type") == "error", F.col("tus")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("next_error_us", next_error)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("next_error_us").alias("n_with_next"),
            F.sum(F.expr("(next_error_us - tus) div 1000000"))
            .cast("bigint")
            .alias("total_secs_to_error"),
        )
    )


@register(
    "join_range_binned",
    category="joins",
    oracle="""
    SELECT
      p_size,
      count(*)                   AS n_matches,
      round(avg(l_quantity), 2)  AS avg_qty
    FROM part
    JOIN lineitem
      ON l_quantity BETWEEN p_size - 2 AND p_size + 2
    WHERE p_partkey <= 200 AND l_orderkey <= 2000
    GROUP BY p_size
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join discretized into an equi-join on bin id — the 100 TB
    path for join_theta_range.

    A pure theta join cannot hash-partition, so Spark's only strategy is
    a (broadcast) nested-loop — O(|L|·|R|) work that dies when neither
    side fits in a broadcast. The fix: explode each part row into the
    integer bins its ±2 interval covers (`sequence(p_size-2, p_size+2)`,
    5 rows per part — bounded, known fan-out), bin the probe side with
    `floor(l_quantity)`, equi-join on the bin, and keep the original
    BETWEEN as a residual predicate (correct even for fractional
    quantities whose floor lands in the bin). Both sides now hash-
    partition on bin id: shuffle-parallel, AQE-skew-handled, no nested
    loop. Same answer as join_theta_range's plan shape, verified by the
    identical oracle formulation (wider key slice).
    """
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    binned_part = part.select(
        "p_size",
        F.explode(
            F.sequence(F.col("p_size") - 2, F.col("p_size") + 2)
        ).alias("bin"),
    )
    binned_li = li.select(
        "l_quantity", F.floor("l_quantity").cast("int").alias("bin")
    )
    residual = (F.col("l_quantity") >= F.col("p_size") - 2) & (
        F.col("l_quantity") <= F.col("p_size") + 2
    )
    return (
        binned_part.join(binned_li, on="bin")
        .filter(residual)
        .groupBy("p_size")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        )
    )


@register(
    "join_partition_pruned",
    category="joins",
    bench=False,  # includes a filesystem write of the partitioned fact
    oracle="""
    WITH dim AS (
      SELECT DISTINCT o_orderpriority AS pr,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'high' ELSE 'low' END AS urgency
      FROM orders
    )
    SELECT o_orderpriority,
           count(*)                     AS n_orders,
           round(sum(o_totalprice), 2)  AS total_price
    FROM orders JOIN dim ON o_orderpriority = pr
    WHERE urgency = 'high'
    GROUP BY o_orderpriority
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a fact table partitioned on the join
    key, joined to a dim whose filter is only known at runtime — Spark
    turns the dim's filtered key set into a subquery-driven partition
    filter on the fact SCAN, so unneeded partitions are never read.

    The single biggest scan-avoidance lever at 100 TB: a date- or
    topic-partitioned fact (the reference's daily changefeed dirs,
    publisher.go:133, map exactly to this layout) joined through a
    filtered dimension reads only the matching partition directories.
    Static pruning can't do this — the surviving keys exist only after
    the dim filter runs; DPP broadcasts them into the fact scan as a
    runtime `dynamicpruning` expression (pinned in tests/test_plans.py).
    Here the fact is orders re-partitioned by o_orderpriority (5 dirs);
    the dim keeps 2 of 5 priorities, so 3/5 of the data is never
    scanned. Oracle = the same join straight off the source table —
    pruning must not change results, only IO.
    """
    import tempfile

    orders = load(spark, sf_dir, "orders")
    out = work_dir("dpp_fact")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .select(
            F.col("o_orderpriority").alias("pr"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
            )
            .otherwise("low")
            .alias("urgency"),
        )
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("urgency") == "high")),
            fact["o_orderpriority"] == F.col("pr"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "join_null_safe",
    category="joins",
    oracle="""
    WITH a AS (
      SELECT nullif(c_nationkey % 5, 4) AS k, count(*) AS n_cust
      FROM customer GROUP BY 1
    ),
    b AS (
      SELECT nullif(s_nationkey % 5, 4) AS k, count(*) AS n_supp
      FROM supplier GROUP BY 1
    )
    SELECT a.k, a.n_cust, b.n_supp
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing.

    CDC key columns go NULL on deletes and partial updates; a plain
    equi-join silently drops those rows (NULL = NULL is NULL), which in
    a reconciliation join means lost deletes — the batch twin of the
    reference's ACK-on-failure data loss (publisher.go:209-211). The
    null-safe operator keeps them AND stays a hash join: `<=>` is a
    valid hash key (null hashes like any other value), so the plan is
    still BroadcastHashJoin/SMJ, not a nested loop — same cost shape at
    100 TB as a plain equi-join. Keys here are derived with nullif so
    every scale factor has a NULL group on both sides.
    """
    cust = (
        load(spark, sf_dir, "customer")
        .groupBy(F.nullif(F.col("c_nationkey") % 5, F.lit(4)).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.nullif(F.col("s_nationkey") % 5, F.lit(4)).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cust.alias("a").join(
        supp.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k"))
    ).select(F.col("a.k").alias("k"), "n_cust", "n_supp")


@register(
    "join_null_aware_anti",
    category="joins",
    oracle="""
    SELECT 'not_in_with_nulls' AS variant, count(*) AS n
    FROM customer
    WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)
    UNION ALL
    SELECT 'not_in_null_free' AS variant, count(*) AS n
    FROM customer
    WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL
       AND o_custkey <> 7)
    """,
)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery with nullable inner values — the null-aware anti
    join, three-valued-logic's sharpest edge.

    One NULL in the inner set makes `x NOT IN (...)` UNKNOWN for every
    non-matching x, so the with-nulls branch returns 0 rows — correct
    per SQL, catastrophic if the author meant "exclude these keys".
    Both branches run side by side: the null-poisoned count (0) and the
    null-filtered count users almost always intend. Spark plans the
    first as a null-aware anti join (single-column NAAJ broadcasts the
    inner set; pinned in tests/test_plans.py) rather than a per-row
    nested loop — the only safe physical shape for NOT IN at scale.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_naaj")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_naaj")
    return spark.sql(
        """
        SELECT 'not_in_with_nulls' AS variant, count(*) AS n
        FROM customer_naaj
        WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders_naaj)
        UNION ALL
        SELECT 'not_in_null_free' AS variant, count(*) AS n
        FROM customer_naaj
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders_naaj WHERE o_custkey IS NOT NULL
           AND o_custkey <> 7)
        """
    )


@register(
    "join_fuzzy_symspell",
    category="joins",
    oracle="""
    WITH dirty AS (
      SELECT s_suppkey AS d_id,
             substr(s_name, 1, CAST(10 + (s_suppkey % 8) AS INT) - 1)
             || substr(s_name, CAST(10 + (s_suppkey % 8) AS INT) + 1) AS d_name
      FROM supplier
    ),
    variants AS (
      SELECT DISTINCT s_suppkey AS c_id,
             substr(s_name, 1, CAST(k AS INT) - 1)
             || substr(s_name, CAST(k AS INT) + 1) AS v
      FROM supplier, LATERAL unnest(range(1, length(s_name) + 1)) AS t(k)
    ),
    cand AS (
      SELECT d_id,
             count(DISTINCT c_id) AS n_cand,
             CAST(max(CASE WHEN c_id = d_id THEN 1 ELSE 0 END) AS BIGINT)
               AS self_hit
      FROM dirty JOIN variants ON d_name = v
      GROUP BY d_id
    )
    SELECT n_cand,
           count(*)                        AS n_dirty,
           CAST(sum(self_hit) AS BIGINT)   AS n_self_recovered,
           min(d_id)                       AS first_dirty
    FROM cand
    GROUP BY n_cand
    ORDER BY n_cand
    """,
)
def join_fuzzy_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string match by symmetric deletes (SymSpell) — entity
    resolution of corrupted names as a pure EQUI-join, never a
    levenshtein theta join.

    Fixture: every supplier name is deterministically corrupted by
    deleting one digit (position 10 + suppkey%8 — inside the numeric
    block, a function of the data). Matching edit-distance-1 deletions
    against the clean master uses the SymSpell trick: expand each clean
    name into its |name| single-deletion variants ONCE (a row-local
    generate, linear in corpus x length), then candidates are EXACT
    string equality — hash-partitionable, broadcast-able, zero
    verification needed for pure deletions. The naive alternative
    (levenshtein(a, b) <= 1 as a join condition) is a nested-loop over
    all pairs; at 100 TB the variant table is the inverted index you
    shard. The output is the match-cardinality histogram: every dirty
    record recovers its source (n_self_recovered == n_dirty), and
    n_cand > 1 rows quantify genuine ambiguity (distinct suppliers
    whose deletion neighborhoods collide, e.g. #...010 and #...100
    both yielding #...00).
    """
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    p = "cast(10 + (s_suppkey % 8) as int)"
    dirty = sup.select(
        F.col("s_suppkey").alias("d_id"),
        F.expr(
            f"concat(substring(s_name, 1, {p} - 1), substring(s_name, {p} + 1))"
        ).alias("d_name"),
    )
    variants = (
        sup.select(
            F.col("s_suppkey").alias("c_id"),
            F.explode(F.expr("sequence(1, length(s_name))")).alias("k"),
            "s_name",
        )
        .select(
            "c_id",
            F.expr(
                "concat(substring(s_name, 1, cast(k as int) - 1),"
                " substring(s_name, cast(k as int) + 1))"
            ).alias("v"),
        )
        .distinct()
    )
    cand = (
        dirty.join(variants, dirty["d_name"] == variants["v"])
        .groupBy("d_id")
        .agg(
            F.countDistinct("c_id").alias("n_cand"),
            F.max(
                F.when(F.col("c_id") == F.col("d_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("self_hit"),
        )
    )
    return (
        cand.groupBy("n_cand")
        .agg(
            F.count(F.lit(1)).alias("n_dirty"),
            F.sum("self_hit").cast("bigint").alias("n_self_recovered"),
            F.min("d_id").alias("first_dirty"),
        )
        .orderBy("n_cand")
    )


@register(
    "join_asof_nearest",
    category="joins",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    w AS (
      SELECT user_id, event_id, event_type, us,
             last_value(CASE WHEN event_type = 'purchase' THEN us END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us,
             first_value(CASE WHEN event_type = 'purchase' THEN us END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us
      FROM ev
    ),
    clicks AS (
      SELECT
        CASE
          WHEN prev_us IS NULL AND next_us IS NULL THEN 'none'
          WHEN next_us IS NULL THEN 'prev'
          WHEN prev_us IS NULL THEN 'next'
          WHEN us - prev_us <= next_us - us THEN 'prev'
          ELSE 'next' END AS side,
        CASE
          WHEN prev_us IS NULL AND next_us IS NULL THEN NULL
          WHEN next_us IS NULL THEN (us - prev_us) // 1000000
          WHEN prev_us IS NULL THEN (next_us - us) // 1000000
          ELSE least(us - prev_us, next_us - us) // 1000000 END AS gap_s
      FROM w WHERE event_type = 'click'
    )
    SELECT side,
           count(*)                              AS n_clicks,
           CAST(sum(gap_s) AS BIGINT)            AS total_gap_s,
           floor(avg(gap_s) * 100 + 0.5) / 100   AS avg_gap_s
    FROM clicks
    GROUP BY side
    ORDER BY side
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-match as-of join: attach each click to its closest
    purchase in EITHER time direction — the third as-of semantics
    beside backward (join_asof) and forward (join_asof_forward).

    Same union-free window formulation: one (user, time)-ordered pass
    computes the last prior purchase (frame ...,-1 with ignorenulls)
    AND the first following purchase (frame +1,... ) simultaneously —
    still ONE shuffle on user_id, where a nearest-range join would be
    a nested loop. Ties at equal distance resolve to the PRIOR side
    (<=), pinned identically in both engines; gaps are integral
    epoch-micros seconds. The output is the side/gap distribution —
    the "how stale is the attached quote" question a nearest-asof
    user actually asks.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    base = Window.partitionBy("user_id").orderBy("us", "event_id")
    purchase_us = F.when(F.col("event_type") == "purchase", F.col("us"))
    w = ev.select(
        "event_type",
        "us",
        F.last(purchase_us, ignorenulls=True)
        .over(base.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_us"),
        F.first(purchase_us, ignorenulls=True)
        .over(base.rowsBetween(1, Window.unboundedFollowing))
        .alias("next_us"),
    ).filter(F.col("event_type") == "click")
    side = (
        F.when(F.col("prev_us").isNull() & F.col("next_us").isNull(), "none")
        .when(F.col("next_us").isNull(), "prev")
        .when(F.col("prev_us").isNull(), "next")
        .when(
            (F.col("us") - F.col("prev_us")) <= (F.col("next_us") - F.col("us")),
            "prev",
        )
        .otherwise("next")
    )
    gap_s = (
        F.when(F.col("prev_us").isNull() & F.col("next_us").isNull(), F.lit(None))
        .when(F.col("next_us").isNull(), F.expr("(us - prev_us) div 1000000"))
        .when(F.col("prev_us").isNull(), F.expr("(next_us - us) div 1000000"))
        .otherwise(F.expr("least(us - prev_us, next_us - us) div 1000000"))
    )
    return (
        w.select(side.alias("side"), gap_s.alias("gap_s"))
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum("gap_s").cast("bigint").alias("total_gap_s"),
            r2(F.avg("gap_s")).alias("avg_gap_s"),
        )
        .orderBy("side")
    )


@register(
    "join_bloom_pruned",
    category="joins",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join reduction: orders of BUILDING-
    segment customers, with the fact side pre-pruned by a Bloom filter
    built from the dim side's keys BEFORE any join or shuffle.

    The 100 TB pattern behind engines' runtime row-level filtering
    (Spark's `spark.sql.optimizer.runtime.bloomFilter.*`, made explicit
    here so the mechanics are visible and plan-pinnable): the selective
    dim side (1/5 of customers) is folded into a 16 Kib Bloom bitmap —
    k=3 xxhash64 probes per key, bits packed into 256 bigint words via
    one `bit_or` aggregate.  The bitmap is ~2 KB of METADATA, collected
    once and shipped as a literal array (the centroid/codebook
    broadcast-k discipline — never a data-sized collect), so the fact
    scan applies a PURE ROW-LOCAL predicate: all three probe bits set.
    Survivors (true matches + bounded false positives, ~|dim|·3/16384
    bit density ⇒ <1% FP here) flow into the EXACT broadcast semi-join,
    so the result is provably identical to the plain join — the Bloom
    stage only cuts the rows that ever reach the join/shuffle.  At
    100 TB this is the difference between shuffling the whole fact
    table and shuffling the ~20% that can match; false positives cost
    bandwidth, never correctness.  The oracle is the plain join — no
    hash function needs to agree cross-engine because the bitmap never
    affects the answer, only the work.
    """
    m_bits, n_words, k = 16384, 256, 3
    orders = load(spark, sf_dir, "orders")
    dim = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )

    # Build: dim keys -> k probe positions -> 256 packed bigint words.
    word_rows = (
        dim.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64("c_custkey", F.lit(i)), F.lit(m_bits)
                        ).alias(f"p{i}")
                        for i in range(k)
                    ]
                )
            ).alias("pos")
        )
        .select(
            F.floor(F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(mask)").alias("word"))
        .collect()
    )
    words = {r["w"]: r["word"] for r in word_rows}
    bloom_sql = "array(" + ",".join(
        f"{words.get(i, 0)}L" for i in range(n_words)
    ) + ")"

    # Probe: a row-local predicate on the fact scan — no join, no
    # shuffle, no explode; Catalyst keeps it inside the scan's
    # WholeStageCodegen span.
    probed = orders
    conds = []
    for i in range(k):
        probed = probed.withColumn(
            f"_bp{i}", F.pmod(F.xxhash64("o_custkey", F.lit(i)), F.lit(m_bits))
        )
        conds.append(
            F.expr(
                f"(element_at({bloom_sql}, CAST(_bp{i} DIV 64 AS INT) + 1)"
                f" & shiftleft(CAST(1 AS BIGINT), CAST(_bp{i} % 64 AS INT)))"
                " != 0"
            )
        )
    pred = conds[0]
    for c in conds[1:]:
        pred = pred & c
    candidates = probed.filter(pred).drop(*[f"_bp{i}" for i in range(k)])

    # Exact tier: broadcast semi-join removes Bloom false positives.
    return (
        candidates.join(
            F.broadcast(dim.select("c_custkey")),
            candidates.o_custkey == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "join_spatial_grid",
    category="joins",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id AS u FROM events),
    pts AS (
      SELECT u, ((u % 1048576) * (u % 1048576) * 13 + u * 7 + 3) % 1000 AS x,
                ((u % 1048576) * (u % 1048576) * 29 + u * 31 + 17) % 1000 AS y
      FROM users
    ),
    pairs AS (
      SELECT a.u AS ua, b.u AS ub,
             greatest(abs(a.x - b.x), abs(a.y - b.y)) AS cheb
      FROM pts a JOIN pts b ON a.u < b.u
      WHERE abs(a.x - b.x) <= 100 AND abs(a.y - b.y) <= 100
    )
    SELECT ua, ub, cheb,
           row_number() OVER (ORDER BY cheb, ua, ub) AS rnk
    FROM pairs
    ORDER BY cheb, ua, ub
    LIMIT 20
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity join via grid bucketing: the 20 closest user
    pairs within L∞ distance 100 on a planted 1000×1000 integer plane.

    The distance-join pattern every geo/embedding workload needs and
    naive SQL gets catastrophically wrong (θ-join on |x₁−x₂| ⇒ nested-
    loop cartesian): quantize each point to a grid cell the size of the
    search radius, replicate the PROBE side onto its 3×3 neighbor cells
    (a 9× explode of the smaller relation, the standard epsilon-grid
    trick), and equi-join on the cell key — candidates are only pairs
    in adjacent cells, then the exact Chebyshev predicate verifies
    row-locally.  Work is Σ_cell |A_cell|·9·|B_cell| — data-local and
    shuffle-partitioned by cell, never |A|·|B|; skewed cells fall out
    of AQE's skew split like any hot join key.  Coordinates are a pure
    quadratic-residue function of user_id (planted-fixture discipline:
    the oracle restates them verbatim; a linear map would collapse the
    plane onto a line), so the op is exact integer arithmetic
    end-to-end.  At 100 TB the same shape serves geohash joins and
    LSH-bucketed embedding blocking; the (u < u') guard halves
    candidates and the single-cell membership of the build side means
    no pair is generated twice.

    DENSITY-ADAPTIVE PITCH (r14, the join_knn_spatial_grid r12 device —
    was 3.28× at the 10× probe): only the top-20 closest pairs survive,
    yet a fixed pitch-100 grid enumerates EVERY pair within 100 — a
    candidate set that grows ~N² on the fixed plane as density rises.
    The pitch is instead sized from the measured point count so the
    expected pairs-within-pitch stays ~60 (N²·(2r)²/plane² ≈ 60 ⇒
    r ≈ 5500/N), and exactness is kept by ESCALATION: if fewer than 20
    exact-verified pairs land inside the pitch, retry at 4× (capped at
    100, the original exhaustive grid) — the top-20 of the pairs within
    radius r IS the global top-20 whenever ≥20 pairs exist there, and
    the cap case degenerates to the old plan. Deterministic: the pitch
    schedule is a pure function of N.
    """
    users = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("u")
    ).distinct()
    # The quadratic term reduces its key first ((u % 2^20)² ≤ 2.8e15,
    # never near int64) — an UNREDUCED u² overflowed under ANSI the
    # moment the 10× scale probe's replica-shifted keys (~2^40) arrived
    # (the ml_conformal_interval bug class, r10 probe catch). 2^20
    # exceeds every shipped-sf key, so values are identical at all
    # certified scales; the linear term keeps the raw key so replica
    # point sets stay rotated rather than stacking on identical
    # coordinates (which would make the probe output-quadratic).
    ur = F.col("u") % 1048576
    pts = users.select(
        "u",
        ((ur * ur * 13 + F.col("u") * 7 + 3) % 1000).alias("x"),
        ((ur * ur * 29 + F.col("u") * 31 + 17) % 1000).alias("y"),
    ).persist()
    n_pts = pts.count()

    def pairs_at(cell: int):
        build = pts.select(
            F.col("u").alias("ub_"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            F.floor(F.col("x") / cell).cast("int").alias("cx"),
            F.floor(F.col("y") / cell).cast("int").alias("cy"),
        )
        offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
        probe = pts.select(
            F.col("u").alias("ua_"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (
                                F.floor(F.col("x") / cell).cast("int") + dx
                            ).alias("cx"),
                            (
                                F.floor(F.col("y") / cell).cast("int") + dy
                            ).alias("cy"),
                        )
                        for dx, dy in offsets
                    ]
                )
            ).alias("c"),
        ).select(
            "ua_", "xa", "ya",
            F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"),
        )
        # The exact predicate stays ≤ min(cell, 100): the grid is
        # recall-complete for Chebyshev ≤ cell, and 100 is the op's
        # declared radius semantics.
        r = min(cell, 100)
        return (
            probe.join(build, ["cx", "cy"])
            .filter(
                (F.col("ua_") < F.col("ub_"))
                & (F.abs(F.col("xa") - F.col("xb")) <= r)
                & (F.abs(F.col("ya") - F.col("yb")) <= r)
            )
            .select(
                F.col("ua_").alias("ua"),
                F.col("ub_").alias("ub"),
                F.greatest(
                    F.abs(F.col("xa") - F.col("xb")),
                    F.abs(F.col("ya") - F.col("yb")),
                ).alias("cheb"),
            )
        )

    # Pitch schedule: start at the density estimate, escalate 4× on a
    # recall miss, finish at the exhaustive 100 (at most 3 grid passes;
    # each pass is ~16× the previous pass's candidate volume, so the
    # escalation path costs at most ~1.1× the exhaustive plan even when
    # it runs all the way up).
    r0 = max(4, min(100, 5500 // max(n_pts, 1) + 1))
    schedule = sorted({r0, min(100, r0 * 4), 100})
    # Persist each pass's candidate frame so the recall check and the
    # final top-20 share ONE grid-join computation (r14 ADVICE item 4:
    # the winning pairs frame was recomputed from scratch for the final
    # orderBy/limit — a full extra grid pass per invocation). A losing
    # pass's cache is dropped before escalating.
    pairs = None
    for cell in schedule:
        if pairs is not None:
            pairs.unpersist(blocking=False)
        pairs = pairs_at(cell).persist()
        if cell >= 100 or pairs.limit(20).count() >= 20:
            break
    w = Window.orderBy("cheb", "ua", "ub")
    out = (
        pairs.orderBy("cheb", "ua", "ub")
        .limit(20)
        .withColumn("rnk", F.row_number().over(w))
    )
    # Cache kept: the recall probe and the result both read `pairs`;
    # lazy measured 0.93 s vs 0.87 s at sf0.01 and saved no job.
    return finalize_cached(out, pts, pairs)


@register(
    "join_interval_overlap",
    category="joins",
    oracle="""
    WITH ord AS (
      SELECT o_orderkey,
             CAST(date_diff('day', TIMESTAMP '1970-01-01',
                            CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS s_a,
             CAST(date_diff('day', TIMESTAMP '1970-01-01',
                            CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               + o_orderkey % 14 AS e_a,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    promo AS (
      SELECT s_suppkey AS promo_id,
             CAST(9100 + (s_suppkey * 97) % 2300 AS BIGINT) AS s_b,
             CAST(9100 + (s_suppkey * 97) % 2300
                  + 30 + (s_suppkey % 5) * 15 AS BIGINT)    AS e_b
      FROM supplier WHERE s_suppkey % 3 = 0
    )
    SELECT p.promo_id, p.s_b AS promo_start_day,
           CAST(count(*) AS BIGINT)     AS n_orders,
           CAST(sum(o.cents) AS BIGINT) AS revenue_cents
    FROM promo p JOIN ord o
      ON o.s_a <= p.e_b AND p.s_b <= o.e_a
    GROUP BY p.promo_id, p.s_b
    ORDER BY p.promo_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval OVERLAP join via grid-cell decomposition: orders carry a
    validity interval (orderdate + 0-13 days), promo windows carry a
    45-90 day interval; the op aggregates per promo the orders whose
    intervals intersect it — the temporal-join shape behind billing
    proration, campaign attribution, and SCD validity matching.

    Naive SQL is a θ-join on two inequalities ⇒ nested-loop. The scale
    shape: explode each interval onto the 64-day grid cells it covers
    (orders span ≤14 days → ≤2 cells; promos ≤90 → ≤3 cells), equi-join
    on the cell key, verify overlap row-locally, and COUNT EACH PAIR
    ONCE without a distinct: a pair is attributed solely to the cell
    containing max(start_a, start_b) — the first cell where both
    intervals are live — so no dedup shuffle exists at all. Work is
    Σ_cell |A_cell|·|B_cell| partitioned by cell; both sides are
    arbitrary-size fact relations (a broadcast would also work for this
    fixture's promo side, but the cell join is the 100 TB shape and the
    plan pin holds it to an equi-join). Day arithmetic is exact integer
    epoch-days on both engines; money is integer cents.
    """
    g = 64
    ord_ = load(spark, sf_dir, "orders").select(
        F.expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)").alias(
            "s_a"
        ),
        F.expr(
            "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)"
            " + o_orderkey % 14"
        ).alias("e_a"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    promo = load(spark, sf_dir, "supplier").filter(
        F.expr("s_suppkey % 3 = 0")
    ).select(
        F.col("s_suppkey").alias("promo_id"),
        F.expr("CAST(9100 + (s_suppkey * 97) % 2300 AS BIGINT)").alias("s_b"),
        F.expr(
            "CAST(9100 + (s_suppkey * 97) % 2300"
            " + 30 + (s_suppkey % 5) * 15 AS BIGINT)"
        ).alias("e_b"),
    )
    oc = ord_.select(
        "*", F.explode(F.expr(f"sequence(s_a div {g}, e_a div {g})")).alias("cell")
    )
    pc = promo.select(
        "*", F.explode(F.expr(f"sequence(s_b div {g}, e_b div {g})")).alias("cell")
    )
    pairs = oc.join(pc, "cell").filter(
        (F.col("s_a") <= F.col("e_b"))
        & (F.col("s_b") <= F.col("e_a"))
        # count-once attribution: the pair belongs to the cell holding
        # max(start_a, start_b) — no DISTINCT pass anywhere.
        & (F.col("cell") == F.expr(f"greatest(s_a, s_b) div {g}"))
    )
    return (
        pairs.groupBy("promo_id", F.col("s_b").alias("promo_start_day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("promo_id")
    )


# --- join_point_in_polygon: winding test against literal convex zones ----

# Convex polygon zones as integer vertex rings (counter-clockwise) on the
# 0..999 synthetic coordinate plane — literals shared by both engines.
_PIP_ZONES = {
    "downtown": [(100, 100), (400, 120), (420, 380), (120, 360)],
    "harbor": [(600, 50), (950, 80), (900, 300), (620, 260)],
    "hills": [(300, 600), (700, 620), (760, 900), (340, 940)],
}


def _pip_contains_sql(px: str, py: str, ring: list[tuple[int, int]]) -> str:
    """Point-in-CONVEX-polygon by cross-product signs: for a CCW ring,
    the point is inside iff every edge's cross product
    (x2−x1)(py−y1) − (y2−y1)(px−x1) is ≥ 0 — exact integer
    arithmetic, no epsilon, identical text on both engines."""
    terms = []
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        terms.append(
            f"(({x2} - {x1}) * ({py} - {y1})"
            f" - ({y2} - {y1}) * ({px} - {x1})) >= 0"
        )
    return "(" + " AND ".join(terms) + ")"


def _pip_zone_case(px: str, py: str) -> str:
    whens = "".join(
        f" WHEN {_pip_contains_sql(px, py, ring)} THEN '{name}'"
        for name, ring in sorted(_PIP_ZONES.items())
    )
    return f"CASE{whens} ELSE 'outside' END"


_PIP_POINTS_SQL = """
      SELECT event_id, user_id,
             (user_id * 37 + event_id * 11) % 1000 AS px,
             (user_id * 53 + event_id * 29) % 1000 AS py,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
"""


@register(
    "join_point_in_polygon",
    category="joins",
    oracle=f"""
    WITH pts AS ({_PIP_POINTS_SQL})
    SELECT {_pip_zone_case("px", "py")} AS zone,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS cents_sum
    FROM pts
    GROUP BY 1
    ORDER BY 1
    """,
)
def join_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-POLYGON containment — the other half of geospatial
    joins (join_spatial_grid handles point-point proximity by grid
    bucketing; this handles point-in-REGION): events carry synthetic
    integer coordinates, zones are convex polygons, and containment
    is the cross-product winding test — for a counter-clockwise ring
    the point is inside iff it lies left of every edge. All integer
    arithmetic (no epsilon, no trig), so containment is EXACT and
    both engines evaluate the identical inequality chain; first
    matching zone wins in a fixed CASE order (zones here are
    disjoint, so order is cosmetic).

    Shape: the zone table is tiny and constant, so the "join" folds
    into a row-local CASE inside whole-stage codegen — the compiled
    form of a broadcast nested-loop PIP join, which is exactly what a
    GIS engine does for small zone sets; at scale with thousands of
    polygons you grid-index first (join_spatial_grid's device) and
    run this test only within the candidate cell. One aggregate pass,
    ≤4 output rows.
    """
    events = load(spark, sf_dir, "events")
    pts = events.selectExpr(
        "event_id",
        "user_id",
        "(user_id * 37 + event_id * 11) % 1000 AS px",
        "(user_id * 53 + event_id * 29) % 1000 AS py",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    return (
        pts.selectExpr(
            f"{_pip_zone_case('px', 'py')} AS zone",
            "user_id",
            "cents",
        )
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
        )
        .orderBy("zone")
    )


# --- r12 spatial overlay promotion (from staging/r12 at round 12) -----

# Deterministic rectangle fixtures derived from nation/supplier keys —
# two overlapping 5×5 layouts with different strides so intersections
# exist but are not total. Keys reduce `% 1048576` FIRST (identity at
# every shipped sf; the 10×-probe tree's replica-shifted keys ~2^40
# otherwise overflow the INT rectangle coordinates — this op was the
# probe's third catch of that class, at staging time).
_RECT_A_SPARK = (
    "SELECT n_nationkey AS rid_a,"
    " ((n_nationkey % 1048576) % 5) * 10 AS x0a,"
    " ((n_nationkey % 1048576) div 5) * 10 AS y0a,"
    " ((n_nationkey % 1048576) % 5) * 10 + 8 + (n_nationkey % 3) AS x1a,"
    " ((n_nationkey % 1048576) div 5) * 10 + 7 + (n_nationkey % 4) AS y1a"
)
_RECT_B_SPARK = (
    "SELECT s_suppkey AS rid_b,"
    " ((s_suppkey % 1048576) % 6) * 9 + 3 AS x0b,"
    " ((s_suppkey % 1048576) div 6) * 9 + 2 AS y0b,"
    " ((s_suppkey % 1048576) % 6) * 9 + 3 + 6 + (s_suppkey % 5) AS x1b,"
    " ((s_suppkey % 1048576) div 6) * 9 + 2 + 5 + (s_suppkey % 7) AS y1b"
)


ORACLE_OVERLAY = """
    WITH ra AS (
      SELECT n_nationkey AS rid_a,
             ((n_nationkey % 1048576) % 5) * 10 AS x0a,
             ((n_nationkey % 1048576) // 5) * 10 AS y0a,
             ((n_nationkey % 1048576) % 5) * 10 + 8
               + (n_nationkey % 3) AS x1a,
             ((n_nationkey % 1048576) // 5) * 10 + 7
               + (n_nationkey % 4) AS y1a
      FROM nation
    ),
    rb AS (
      SELECT s_suppkey AS rid_b,
             ((s_suppkey % 1048576) % 6) * 9 + 3 AS x0b,
             ((s_suppkey % 1048576) // 6) * 9 + 2 AS y0b,
             ((s_suppkey % 1048576) % 6) * 9 + 3 + 6
               + (s_suppkey % 5) AS x1b,
             ((s_suppkey % 1048576) // 6) * 9 + 2 + 5
               + (s_suppkey % 7) AS y1b
      FROM supplier
    )
    SELECT rid_a, rid_b,
           CAST(greatest(0, least(x1a, x1b) - greatest(x0a, x0b))
                * greatest(0, least(y1a, y1b) - greatest(y0a, y0b))
                AS BIGINT) AS area
    FROM ra CROSS JOIN rb
    WHERE greatest(0, least(x1a, x1b) - greatest(x0a, x0b))
          * greatest(0, least(y1a, y1b) - greatest(y0a, y0b)) > 0
    ORDER BY area DESC, rid_a, rid_b
    LIMIT 20
    """


@register(
    "join_polygon_overlay_area",
    category="joins",
    oracle=ORACLE_OVERLAY,
)
def join_polygon_overlay_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise overlay AREAS between two axis-aligned rectangle sets
    (nation-derived layer A × supplier-derived layer B) — the spatial
    overlay join done the scale way: cover each rectangle with 10×10
    grid cells (explode of a bounded sequence), EQUI-join on the cell,
    dedup candidate pairs, then the exact row-local intersection test
    — never rectangle × rectangle. At 100 TB this is the standard
    spatial partitioning recipe (grid/quadtree bucket join); fan-out
    per rectangle is its cell cover, bounded by geometry size, not by
    layer cardinality. The oracle cross-checks with the direct
    quadratic overlay (fine at fixture scale — it is the declared
    ground-truth twin, same relationship as dedup_near to the minhash
    tiers).

    Output: one row per intersecting pair with the exact integer
    intersection area, total-ordered (area desc, rid_a, rid_b),
    top 20.
    """
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    nation.createOrReplaceTempView("nation_tv")
    supplier.createOrReplaceTempView("supplier_tv")
    ra = spark.sql(_RECT_A_SPARK + " FROM nation_tv")
    rb = spark.sql(_RECT_B_SPARK + " FROM supplier_tv")
    # Cell id = cx·2^32 + cy in BIGINT — collision-free for any
    # in-range coordinate (an int32-packed id collides across columns
    # at probe-tree coordinates; collisions only cost extra verified
    # candidates, but free is free).
    ca = ra.select(
        "rid_a", "x0a", "y0a", "x1a", "y1a",
        F.explode(
            F.expr(
                "flatten(transform(sequence(y0a div 10,"
                " (y1a - 1) div 10), cy ->"
                " transform(sequence(x0a div 10,"
                " (x1a - 1) div 10), cx ->"
                " cast(cx as bigint) * 4294967296 + cy)))"
            )
        ).alias("cell"),
    )
    cb = rb.select(
        "rid_b", "x0b", "y0b", "x1b", "y1b",
        F.explode(
            F.expr(
                "flatten(transform(sequence(y0b div 10,"
                " (y1b - 1) div 10), cy ->"
                " transform(sequence(x0b div 10,"
                " (x1b - 1) div 10), cx ->"
                " cast(cx as bigint) * 4294967296 + cy)))"
            )
        ).alias("cell"),
    )
    ix = "greatest(0, least(x1a, x1b) - greatest(x0a, x0b))"
    iy = "greatest(0, least(y1a, y1b) - greatest(y0a, y0b))"
    out = (
        ca.join(cb, "cell")
        .select("rid_a", "rid_b", "x0a", "y0a", "x1a", "y1a",
                "x0b", "y0b", "x1b", "y1b")
        .distinct()
        .selectExpr(
            "rid_a", "rid_b",
            f"CAST(({ix}) * ({iy}) AS BIGINT) AS area",
        )
        .filter(F.col("area") > 0)
        .orderBy(F.desc("area"), "rid_a", "rid_b")
        .limit(20)
    )
    return out


# --- r12 growth: grid-bounded nearest-neighbor join --------------------------


@register(
    "join_knn_spatial_grid",
    category="joins",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id AS u FROM events),
    qpts AS (
      SELECT u, ((u % 1048576) * (u % 1048576) * 13 + u * 7 + 3) % 1000 AS x,
                ((u % 1048576) * (u % 1048576) * 29 + u * 31 + 17) % 1000 AS y
      FROM users
    ),
    spts AS (
      SELECT s_suppkey AS s,
             ((s_suppkey % 1048576) * (s_suppkey % 1048576) * 37
              + s_suppkey * 11 + 5) % 1000 AS x,
             ((s_suppkey % 1048576) * (s_suppkey % 1048576) * 41
              + s_suppkey * 19 + 23) % 1000 AS y
      FROM supplier
    ),
    pitch AS (
      SELECT greatest(CAST(floor(1000.0 / sqrt(CAST(count(*) AS DOUBLE)
                     / 10.0) + 0.5) AS BIGINT), 10) AS p
      FROM spts
    ),
    cells AS (
      SELECT s.s, s.x, s.y,
             s.x // t.p + dx.dx AS cx, s.y // t.p + dy.dy AS cy
      FROM spts s
      CROSS JOIN pitch t
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) dx
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) dy
    ),
    cand AS (
      SELECT q.u, c.s,
             (q.x - c.x) * (q.x - c.x) + (q.y - c.y) * (q.y - c.y) AS d2
      FROM qpts q
      CROSS JOIN pitch t
      JOIN cells c ON c.cx = q.x // t.p AND c.cy = q.y // t.p
    ),
    nn AS (
      SELECT u, s, d2,
             row_number() OVER (PARTITION BY u ORDER BY d2, s) AS rk
      FROM cand
    )
    SELECT u AS user_id, s AS nn_suppkey, d2 AS dist2,
           row_number() OVER (ORDER BY d2, u) AS rnk
    FROM nn WHERE rk = 1
    ORDER BY d2, u
    LIMIT 20
    """,
)
def join_knn_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BOUNDED 1-NN JOIN: each user point's nearest supplier point
    within its 3×3 epsilon-grid neighborhood on the planted 1000×1000
    integer plane, with the grid pitch ADAPTING to point density
    (pitch = 1000/√(|S|/10), i.e. ~10 suppliers per cell at any scale) — join_spatial_grid's
    pair-listing shape upgraded to the assignment shape every
    geo-routing / embedding-blocking pipeline actually wants ("closest
    depot per customer"). Candidates come from the BETWEEN-cell
    equi-ish join (supplier side is dim-sized → broadcast; the 9-cell
    window is the standard epsilon-grid trick), the exact squared-
    Euclidean predicate scores row-locally in exact integers, and the
    per-user argmin is a row_number over (d2, suppkey) — fully
    deterministic tie-break. SEMANTICS: neighbors beyond the 3×3
    neighborhood are out of scope by declaration (grid-bounded NN, the
    epsilon-ANN contract) — users with an empty neighborhood simply
    drop out, exactly like an LSH bucket miss.

    Scale shape: the probe side never replicates — the 9× explode
    rides the broadcast-sized DIM side; work is Σ_cell |Q_cell| ·
    |S_3×3| hash probes, shuffle-free after the broadcast; the
    per-user window partitions on user. Because the pitch tracks
    density, E[candidates per query] stays ~90 whether |S| is 100 or
    10 million — the 10× probe confirmed the fixed-pitch variant
    degrades 19× while this one stays linear. Top-20 output is
    total-ordered (d2, user); the bounded-NN radius is the pitch, so
    densifying the points TIGHTENS the neighborhood exactly as a
    production re-grid would.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    qpts = users.selectExpr(
        "user_id AS u",
        "((user_id % 1048576) * (user_id % 1048576) * 13 + user_id * 7 + 3)"
        " % 1000 AS x",
        "((user_id % 1048576) * (user_id % 1048576) * 29 + user_id * 31"
        " + 17) % 1000 AS y",
    )
    spts = load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS s",
        "((s_suppkey % 1048576) * (s_suppkey % 1048576) * 37"
        " + s_suppkey * 11 + 5) % 1000 AS sx",
        "((s_suppkey % 1048576) * (s_suppkey % 1048576) * 41"
        " + s_suppkey * 19 + 23) % 1000 AS sy",
    )
    # Density-adaptive grid pitch: ~10 suppliers per cell regardless of
    # |S| (pitch = 1000 / sqrt(|S|/10), floored to >= 10) — the knob a
    # production epsilon-grid tunes; a FIXED pitch under 10x denser
    # points grows candidates-per-query linearly with density (the r12
    # probe measured 19x at the 10x tree before this change). sqrt is
    # IEEE-correctly-rounded, so the integer pitch is cross-engine
    # exact. Dim-side 9-cell replication => the join is a HASH join on
    # the composite cell key (BroadcastHashJoin), not a nested loop
    # over a BETWEEN condition.
    pitch = spts.agg(
        F.expr(
            "greatest(CAST(floor(1000.0D / sqrt(CAST(count(*) AS DOUBLE)"
            " / 10.0D) + 0.5) AS BIGINT), 10L)"
        ).alias("p")
    )
    cells = spts.crossJoin(F.broadcast(pitch)).selectExpr(
        "s",
        "sx",
        "sy",
        "p",
        "explode(array(-1, 0, 1)) AS dx",
    ).selectExpr(
        "s",
        "sx",
        "sy",
        "p",
        "sx div p + dx AS cx",
        "explode(array(-1, 0, 1)) AS dy",
    ).selectExpr("s", "sx", "sy", "cx", "sy div p + dy AS cy")
    cand = qpts.crossJoin(F.broadcast(pitch)).selectExpr(
        "u", "x", "y", "x div p AS cx", "y div p AS cy"
    ).join(F.broadcast(cells), ["cx", "cy"]).selectExpr(
        "u", "s", "(x - sx) * (x - sx) + (y - sy) * (y - sy) AS d2"
    )
    wu = Window.partitionBy("u").orderBy("d2", "s")
    nn = (
        cand.withColumn("rk", F.row_number().over(wu))
        .filter("rk = 1")
        .select("u", "s", "d2")
    )
    wg = Window.orderBy("d2", "u")
    return (
        nn.select(
            F.col("u").alias("user_id"),
            F.col("s").alias("nn_suppkey"),
            F.col("d2").alias("dist2"),
            F.row_number().over(wg).alias("rnk"),
        )
        .orderBy("dist2", "user_id")
        .limit(20)
    )


# --- r13 growth: trigram-similarity fuzzy join -----------------------------
@register(
    "join_fuzzy_trigram",
    category="joins",
    oracle="""
    WITH names AS MATERIALIZED (
      SELECT DISTINCT p_name AS name FROM part
    ),
    grams AS MATERIALIZED (
      SELECT DISTINCT name,
             unnest(list_transform(range(1, length(name) - 1),
                    i -> substr(name, CAST(i AS INT), 3))) AS g
      FROM names WHERE length(name) >= 3
    ),
    sizes AS MATERIALIZED (
      SELECT name, CAST(count(*) AS BIGINT) AS ng FROM grams
      GROUP BY name
    ),
    cand AS (
      SELECT a.name AS name_a, b.name AS name_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM grams a
      JOIN grams b ON b.g = a.g AND a.name < b.name
      GROUP BY 1, 2
    )
    SELECT c.name_a, c.name_b, c.inter,
           sa.ng + sb.ng - c.inter AS uni,
           floor(CAST(c.inter AS DOUBLE) / (sa.ng + sb.ng - c.inter)
                 * 10000 + 0.5) / 10000 AS jaccard
    FROM cand c
    JOIN sizes sa ON sa.name = c.name_a
    JOIN sizes sb ON sb.name = c.name_b
    WHERE 2 * c.inter >= sa.ng + sb.ng - c.inter
    ORDER BY jaccard DESC, name_a, name_b
    """,
)
def join_fuzzy_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIGRAM-SIMILARITY FUZZY JOIN (the pg_trgm recipe): distinct
    part names pair when the Jaccard similarity of their character-
    3-gram SETS is >= 0.5 — the classic approximate-string-matching
    join for catalog reconciliation, complementary to the registry's
    other two fuzzy joins (join_fuzzy_symspell = bounded EDIT
    distance via deletion neighborhoods; dedup_minhash_lsh = token-
    set resemblance): trigrams catch shared stems and local typos
    that token sets miss and edit-distance windows can't afford.

    Candidate generation is a trigram EQUI-join (share >= 1 trigram),
    never all-pairs, and the threshold test 2·inter >= union is pure
    integer arithmetic — the only float is the r4 display Jaccard.
    The similarity is computed on DISTINCT trigram sets (multiset
    trigrams would double-count repeats — pinned in the invariant
    test against difflib-free python set replay).

    Scale shape: the name relation is deduplicated FIRST (the fixture
    reuses a bounded name vocabulary — at 100 TB this is the standard
    name-dimension extraction), the trigram relation is ~len(name)
    rows per distinct name, and the candidate groupBy shuffles on
    3-byte gram keys. Stop-gram capping (dropping the most frequent
    grams, pg_trgm's sml_limit analogue) is the documented extension
    for name domains with heavy shared suffixes.
    """
    names = load(spark, sf_dir, "part").select(
        F.col("p_name").alias("name")
    ).distinct()
    grams = (
        names.filter(F.length("name") >= 3)
        .selectExpr(
            "name",
            "explode(transform(sequence(1, length(name) - 2),"
            " i -> substring(name, i, 3))) AS g",
        )
        .distinct()
    )
    sizes = grams.groupBy("name").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng")
    )
    b = grams.selectExpr("name AS name_b", "g AS gb")
    cand = (
        grams.join(
            b,
            (F.col("gb") == F.col("g"))
            & (F.col("name") < F.col("name_b")),
        )
        .groupBy(F.col("name").alias("name_a"), "name_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sa = sizes.selectExpr("name AS sname_a", "ng AS ng_a")
    sb = sizes.selectExpr("name AS sname_b", "ng AS ng_b")
    out = (
        cand.join(F.broadcast(sa), F.col("sname_a") == F.col("name_a"))
        .join(F.broadcast(sb), F.col("sname_b") == F.col("name_b"))
        .filter(
            F.expr("2 * inter >= ng_a + ng_b - inter")
        )
        .selectExpr(
            "name_a",
            "name_b",
            "inter",
            "ng_a + ng_b - inter AS uni",
            "floor(CAST(inter AS DOUBLE) / (ng_a + ng_b - inter)"
            " * 10000 + 0.5) / 10000 AS jaccard",
        )
        .orderBy(F.desc("jaccard"), "name_a", "name_b")
    )
    return out
