"""Aggregation operators (SURVEY.md §2.B "Aggregations").

All pure DataFrame API — hash aggregation with map-side partial aggregation
is Catalyst's default physical strategy, so every groupBy here does a
partial agg before the shuffle (the 100 TB-scale behavior we want: shuffle
carries one row per (partition, group), not per input row).

Determinism: every floating aggregate is rounded to 2 decimals so the
DuckDB oracle hash matches bit-for-bit (SURVEY.md §7 risk 1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pubsub_spark.functions.rounding import r2, r4
from cdc_pubsub_spark.registry import register
from cdc_pubsub_spark.tables import load


@register(
    "agg_hash_groupby",
    category="aggregates",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      round(sum(l_quantity), 2)                                           AS sum_qty,
      round(sum(l_extendedprice), 2)                                      AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2)                   AS sum_disc_price,
      round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)     AS sum_charge,
      round(avg(l_quantity), 2)                                           AS avg_qty,
      round(avg(l_extendedprice), 2)                                      AS avg_price,
      round(avg(l_discount), 2)                                           AS avg_disc,
      count(*)                                                            AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_hash_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary — the engine's flagship query.

    Exercises the whole batch stack: parquet scan (with the shipdate
    predicate pushed to the reader), projection, hash aggregate with
    map-side combine, and a 6-group sort. Mirrors the reference's role as
    the canonical "process every change event" pipeline (reference
    publisher.go:137-214 processes each line exactly once; here each
    lineitem row contributes to exactly one group).
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_distinct",
    category="aggregates",
    oracle="""
    SELECT
      o_orderstatus,
      count(DISTINCT o_custkey)              AS distinct_customers,
      round(sum(DISTINCT o_totalprice), 2)   AS sum_distinct_price,
      count(*)                               AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) / SUM(DISTINCT) per group.

    Spark plans distinct aggregates as a two-stage expand+agg; at scale the
    expand doubles shuffle volume, which is why approx_count_distinct
    (see agg_approx_distinct) is the 100 TB path.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.round(F.sum_distinct(F.col("o_totalprice")), 2).alias("sum_distinct_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_rollup",
    category="aggregates",
    oracle="""
    SELECT
      coalesce(r_name, 'ALL')          AS region_name,
      coalesce(n_name, 'ALL')          AS nation_name,
      round(sum(c_acctbal), 2)         AS total_acctbal,
      count(*)                         AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (region, nation) totals over customer balances.

    The dim joins are broadcast (nation=25, region=5 rows) so the only
    shuffle is the rollup aggregation itself.
    """
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "total_acctbal",
            "n_customers",
        )
    )


@register(
    "agg_cube",
    category="aggregates",
    oracle="""
    SELECT
      coalesce(o_orderstatus, 'ALL')    AS status,
      coalesce(o_orderpriority, 'ALL')  AS priority,
      count(*)                          AS n_orders,
      round(sum(o_totalprice), 2)       AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 2^2 grouping-set combinations."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "agg_grouping_sets",
    category="aggregates",
    oracle="""
    SELECT
      coalesce(l_returnflag, 'ALL')  AS returnflag,
      coalesce(l_linestatus, 'ALL')  AS linestatus,
      round(sum(l_quantity), 2)      AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry point (SURVEY.md §3.4:
    ``spark.sql`` parses into the same Catalyst pipeline as the DataFrame
    API — this query deliberately exercises that second entry point)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT
          coalesce(l_returnflag, 'ALL')  AS returnflag,
          coalesce(l_linestatus, 'ALL')  AS linestatus,
          round(sum(l_quantity), 2)      AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "agg_having_filtered",
    category="aggregates",
    oracle="""
    SELECT
      o_custkey,
      count(*)                                                   AS n_orders,
      count(*) FILTER (WHERE o_orderstatus = 'F')                AS n_finished,
      round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS open_price
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 12
    """,
)
def agg_having_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING + conditional (FILTER WHERE) aggregates.

    Conditional aggs are expressed as agg-over-when, which Catalyst folds
    into the same single hash-agg pass — one shuffle, no join.
    """
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.round(
                F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))), 2
            ).alias("open_price"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_stats",
    category="aggregates",
    oracle="""
    SELECT
      l_returnflag,
      round(min(l_extendedprice), 2)                       AS min_price,
      round(max(l_extendedprice), 2)                       AS max_price,
      round(avg(l_extendedprice), 2)                       AS avg_price,
      round(stddev_samp(l_extendedprice), 2)               AS std_price,
      round(var_samp(l_quantity), 2)                       AS var_qty,
      round(corr(l_quantity, l_extendedprice), 2) + 0.0    AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation), rounded."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
        # + 0.0 on both sides: IEEE -0.0 + 0.0 = +0.0, so near-zero negative
        # correlations canonicalize identically in Spark and DuckDB.
        (F.round(F.corr("l_quantity", "l_extendedprice"), 2) + F.lit(0.0)).alias(
            "corr_qty_price"
        ),
    )


@register(
    "agg_percentile",
    category="aggregates",
    oracle="""
    SELECT
      l_returnflag,
      floor(quantile_cont(l_extendedprice, 0.25) * 100 + 0.5) / 100 AS p25,
      floor(quantile_cont(l_extendedprice, 0.50) * 100 + 0.5) / 100 AS p50,
      floor(quantile_cont(l_extendedprice, 0.75) * 100 + 0.5) / 100 AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per return flag.

    `percentile()` buffers each group's values — exact but O(group) memory,
    fine for bounded groups. At 100 TB with huge groups, switch to
    `approx_percentile` (t-digest: mergeable, constant memory, map-side
    combinable) and accept the documented error bound; this query is the
    exact baseline such a sketch is validated against.
    """
    li = load(spark, sf_dir, "lineitem")
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return li.groupBy("l_returnflag").agg(
        r2(F.element_at(pcts, 1)).alias("p25"),
        r2(F.element_at(pcts, 2)).alias("p50"),
        r2(F.element_at(pcts, 3)).alias("p75"),
    )


@register(
    "agg_approx_percentile",
    category="aggregates",
    oracle="""
    SELECT
      l_returnflag,
      floor(quantile_cont(l_extendedprice, 0.50) * 100 + 0.5) / 100 AS exact_p50,
      floor(quantile_cont(l_extendedprice, 0.95) * 100 + 0.5) / 100 AS exact_p95,
      true AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile validated against the exact value IN-PLAN.

    The sketch is mergeable and map-side combinable — constant memory
    per group at any scale, vs the exact percentile's O(group) buffer.
    accuracy=10000 bounds rank error at 1/10000·n. The output carries
    the exact percentiles plus an `approx_ok` verdict (sketch within 2%
    of exact for both quantiles), so the driver's hash check certifies
    the sketch's tolerance claim every round — the sketch value itself
    is implementation-defined and never hashed. At production scale
    you'd emit the estimate alone; the exact side here is the embedded
    verification harness.
    """
    li = load(spark, sf_dir, "lineitem")
    apx = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
    )
    exact = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)))

    def ok(i: int) -> Column:
        a, e = F.element_at(apx, i), F.element_at(exact, i)
        return F.abs(a - e) / F.greatest(F.abs(e), F.lit(1.0)) < 0.02

    return li.groupBy("l_returnflag").agg(
        r2(F.element_at(exact, 1)).alias("exact_p50"),
        r2(F.element_at(exact, 2)).alias("exact_p95"),
        (ok(1) & ok(2)).alias("approx_ok"),
    )


@register(
    "agg_approx_distinct",
    category="aggregates",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           true AS approx_ok
    FROM events
    GROUP BY event_type
    """,
    bench=True,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) validated against exact
    IN-PLAN.

    At 100 TB the exact COUNT(DISTINCT) expand+shuffle is the bottleneck;
    the HLL sketch is one pass, mergeable, constant memory — the scale
    answer. The output carries the exact count plus an `approx_ok`
    verdict (sketch within 5% relative error), so the driver's hash
    check certifies the HLL tolerance claim every round without hashing
    the implementation-defined estimate itself.
    """
    events = load(spark, sf_dir, "events")
    apx = F.approx_count_distinct("user_id", rsd=0.02)
    exact = F.countDistinct("user_id")
    return events.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (
            F.abs(apx - exact).cast("double")
            / F.greatest(exact, F.lit(1)).cast("double")
            < 0.05
        ).alias("approx_ok"),
    )


@register(
    "agg_bitmap_distinct",
    category="aggregates",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable roaring-style bitmaps
    (bitmap_bucket_number / bitmap_construct_agg / bitmap_count,
    Spark 3.5+) — the scale answer when approx_count_distinct's error
    is not acceptable.

    A plain COUNT(DISTINCT) expands every (group, value) pair through
    the shuffle; the bitmap plan shuffles one ≤4 KB bitmap per
    (group, 32k-id bucket) instead: level 1 ORs each bucket's bit
    positions map-side, level 2 sums per-bucket cardinalities. Both
    levels are commutative/associative (partial-aggregable), and the
    bitmaps themselves are the mergeable state — reusable across
    rollup epochs exactly like the HLL sketches in
    agg_hll_sketch_union, but exact. Oracle: the plain COUNT(DISTINCT)
    this plan must reproduce bit-for-bit.
    """
    ev = load(spark, sf_dir, "events")
    buckets = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return buckets.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )


@register(
    "agg_bitwise_bool",
    category="aggregates",
    oracle="""
    SELECT
      o_orderstatus,
      bit_and(o_orderkey)  AS key_and,
      bit_or(o_orderkey)   AS key_or,
      bit_xor(o_orderkey)  AS key_xor,
      bool_and(o_totalprice > 1000)           AS all_over_1k,
      bool_or(o_orderpriority = '1-URGENT')   AS any_urgent
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregates (bit_and/or/xor, bool_and/bool_or).

    All five are commutative and associative, so they partial-aggregate
    map-side and combine in any shuffle order — the class of aggregate
    that costs one narrow shuffle regardless of data volume. bit_xor over
    a key column doubles as an order-independent set checksum (two
    datasets with equal xor+count are almost certainly the same key set
    — a cheap 100 TB reconciliation primitive).
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
    )


@register(
    "agg_mode_median",
    category="aggregates",
    oracle="""
    WITH qty_counts AS (
      SELECT l_returnflag, l_quantity, count(*) AS n
      FROM lineitem
      GROUP BY l_returnflag, l_quantity
    ),
    modes AS (
      SELECT l_returnflag, l_quantity AS mode_qty
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY l_returnflag ORDER BY n DESC, l_quantity
        ) AS rn
        FROM qty_counts
      ) WHERE rn = 1
    ),
    meds AS (
      SELECT
        l_returnflag,
        floor(median(l_extendedprice) * 100 + 0.5) / 100 AS median_price,
        count(*)                          AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT m.l_returnflag, mode_qty, median_price, n_rows
    FROM modes m JOIN meds USING (l_returnflag)
    """,
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode + exact median per return flag.

    Built-in `mode()` is tie-arbitrary in both engines, so the mode is
    computed explicitly: count per (flag, qty) — one partial-aggregating
    shuffle — then a 1-row-per-group window on the tiny count table
    ordered (n DESC, qty) for a total order. Median uses the built-in
    exact `median()` (linear interpolation in both Spark and DuckDB);
    note the scale caveat: exact median needs the full group — at 100 TB
    prefer `agg_approx_percentile`'s one-pass mergeable sketch.
    """
    from pyspark.sql.window import Window

    lineitem = load(spark, sf_dir, "lineitem")
    qty_counts = lineitem.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), "l_quantity")
    modes = (
        qty_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    meds = lineitem.groupBy("l_returnflag").agg(
        r2(F.median("l_extendedprice")).alias("median_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return modes.join(meds, "l_returnflag")


@register(
    "agg_hll_sketch_union",
    category="aggregates",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS exact_users,
           true AS approx_ok
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT 'ALL', count(DISTINCT user_id), true FROM events
    """,
    bench=True,
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches: per-type distinct-user sketches unioned
    into a global estimate WITHOUT re-touching the data.

    The defining 100 TB pattern for COUNT(DISTINCT) rollups: build a
    sketch per partition/group once (one scan, constant memory), then
    answer every coarser-grained distinct question by merging sketches —
    `hll_union_agg` over the per-type sketches replaces a second full
    scan-and-shuffle of raw user_ids. Output rows carry the exact
    distinct counts plus an IN-PLAN `approx_ok` verdict (every
    estimate, including the merged-sketch global, within 5% of exact),
    so the driver hash-certifies the sketch-union tolerance every round
    while the implementation-defined estimate itself stays out of the
    hash (it is deterministic but Datasketches-version-specific). The
    exact global ride-along is the embedded verification harness — at
    production scale the merged sketch replaces it entirely. Spark
    3.5+ Apache DataSketches functions.
    """
    events = load(spark, sf_dir, "events")

    def ok(apx: Column, exact: Column) -> Column:
        return (
            F.abs(apx - exact).cast("double")
            / F.greatest(exact, F.lit(1)).cast("double")
            < 0.05
        )

    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_type_rows = per_type.select(
        "event_type",
        "exact_users",
        ok(F.hll_sketch_estimate("sketch"), F.col("exact_users")).alias("approx_ok"),
    )
    glob_exact = events.agg(F.countDistinct("user_id").alias("exact_users"))
    global_row = (
        per_type.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
        )
        .crossJoin(F.broadcast(glob_exact))
        .select(
            F.lit("ALL").alias("event_type"),
            "exact_users",
            ok(F.col("est"), F.col("exact_users")).alias("approx_ok"),
        )
    )
    return per_type_rows.unionByName(global_row)


@register(
    "agg_regression",
    category="aggregates",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4)        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates: slope/intercept/R² of price vs
    quantity per return flag — the single-pass OLS closed form.

    regr_* aggregates accumulate (n, Σx, Σy, Σxx, Σyy, Σxy) map-side and
    combine like any algebraic aggregate — one shuffle of six doubles
    per group no matter the row count, the same mergeable-summary
    property as the HLL/t-digest sketches. Fitting per-group trends
    without a second pass (or an ML library) is the 100 TB way to get
    drift/trend features into a training-data pipeline.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n"),
    )


@register(
    "agg_grouping_flags",
    category="aggregates",
    oracle="""
    SELECT
      CASE WHEN GROUPING(r_name) = 1 THEN 'ALL_REGIONS' ELSE r_name END AS region,
      CASE WHEN GROUPING(n_name) = 1 THEN 'ALL_NATIONS' ELSE n_name END AS nation,
      GROUPING(r_name) * 2 + GROUPING(n_name)                           AS gid,
      count(*)                                                          AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def agg_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping() flags: subtotal rows carry explicit
    'ALL_*' labels and a grouping id instead of ambiguous NULLs.

    grouping() is the only correct way to tell a subtotal NULL from a
    data NULL in rollup output — consumers keying on the label columns
    (report sinks, downstream joins) need the distinction. The id is
    built from per-column grouping() bits so the oracle is engine-
    neutral (grouping_id() argument conventions differ across engines).
    """
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = cust.join(
        nation, cust["c_nationkey"] == nation["n_nationkey"]
    ).join(region, nation["n_regionkey"] == region["r_regionkey"])
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.grouping("r_name").alias("g_r"),
        F.grouping("n_name").alias("g_n"),
    ).select(
        F.when(F.col("g_r") == 1, "ALL_REGIONS").otherwise(F.col("r_name")).alias("region"),
        F.when(F.col("g_n") == 1, "ALL_NATIONS").otherwise(F.col("n_name")).alias("nation"),
        (F.col("g_r") * 2 + F.col("g_n")).alias("gid"),
        "n_cust",
    )


@register(
    "agg_min_max_by",
    category="aggregates",
    oracle="""
    SELECT n_name,
           arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000
                            - c_custkey) AS richest_customer,
           arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000
                            - c_custkey) AS poorest_customer,
           round(max(c_acctbal), 2) AS max_bal,
           round(min(c_acctbal), 2) AS min_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregation: the NAME of each nation's richest and
    poorest customer in one aggregate pass — max_by/min_by, no window,
    no self-join.

    The window alternative (rank + filter rn=1) sorts every partition;
    the join-back alternative (groupBy max + rejoin on the max) shuffles
    twice and breaks on duplicate extremes. max_by carries (value, key)
    pairs through partial aggregation — one shuffle of one pair per
    group. Ties on balance are broken deterministically by LOWER custkey
    via a composite (balance, -custkey) ordering struct in BOTH engines,
    since bare max_by/arg_max tie-breaking is engine-arbitrary.
    """
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    key = F.struct(F.col("c_acctbal").alias("a"), (-F.col("c_custkey")).alias("b"))
    return (
        cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.max_by("c_name", key).alias("richest_customer"),
            F.min_by("c_name", key).alias("poorest_customer"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        )
    )


@register(
    "agg_count_min_sketch",
    category="aggregates",
    bench=False,
    oracle="""
    SELECT event_type,
           count(*)     AS exact_count,
           true         AS cms_ok
    FROM events
    GROUP BY event_type
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, validated against exact
    counts — completing the mergeable-sketch family (HLL distinct,
    t-digest percentile, approx_top_k heavy hitters, and now CMS item
    frequency).

    One `count_min_sketch(event_type, eps, conf, seed)` aggregate builds
    the sketch in a single pass (cell-wise-additive merge across
    partitions — order-independent, so the sketch bytes and every
    estimate are deterministic for a fixed seed). The driver then asks
    the sketch for each type's frequency via the JVM sketch API — O(keys)
    bounded work, the same pattern as k-means' centroid reads. CMS
    guarantees estimate >= exact always, and estimate <= exact + eps*N
    with probability >= confidence; `cms_ok` asserts BOTH bounds in the
    output, so the driver's hash check certifies the sketch's error
    contract every round (the estimate itself is implementation-defined
    and stays out of the hash, like the HLL/t-digest ops). At 100 TB
    the sketch is the only way to ask "how often does item X occur" for
    adversarially many X in one pass with constant memory.
    """
    events = load(spark, sf_dir, "events")
    eps, conf = 0.001, 0.99
    sketch_row = events.agg(
        F.count_min_sketch(
            "event_type", F.lit(eps), F.lit(conf), F.lit(42)
        ).alias("cms"),
        F.count(F.lit(1)).alias("total"),
    ).collect()[0]
    total = int(sketch_row["total"])
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sketch_row["cms"])
    )
    exact = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    rows = []
    for r in exact.collect():
        est = int(cms.estimateCount(r["event_type"]))
        ok = r["exact_count"] <= est <= r["exact_count"] + int(eps * total) + 1
        rows.append((r["event_type"], int(r["exact_count"]), bool(ok)))
    return spark.createDataFrame(
        rows, "event_type string, exact_count bigint, cms_ok boolean"
    )


@register(
    "agg_higher_moments",
    category="aggregates",
    oracle="""
    WITH m AS (
      SELECT o_orderstatus,
             count(*)                    AS n,
             avg(o_totalprice)           AS m1,
             avg(o_totalprice * o_totalprice) AS m2,
             avg(o_totalprice * o_totalprice * o_totalprice) AS m3,
             avg(o_totalprice * o_totalprice * o_totalprice * o_totalprice)
                                         AS m4
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           floor((m2 - m1 * m1) * 100 + 0.5) / 100 AS variance_pop,
           floor((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                 / pow(m2 - m1 * m1, 1.5) * 10000 + 0.5) / 10000
                                                   AS skewness_pop,
           floor((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * pow(m1, 4))
                 / pow(m2 - m1 * m1, 2) * 10000 + 0.5) / 10000
                                                   AS kurtosis_pop
    FROM m
    ORDER BY o_orderstatus
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variance/skewness/kurtosis per group from EXPLICIT raw
    moments — distribution-shape profiling with engine-proof math.

    Built-in skewness()/kurtosis() differ across engines (sample vs
    population corrections, excess-vs-raw kurtosis), so this op
    computes E[X^k] for k=1..4 in one aggregate pass and derives the
    central moments by the identical binomial expansion in BOTH
    engines — same inputs, same formula, same doubles. One
    partial-aggregating shuffle of 5 running sums per group; the
    raw-moment vector is the mergeable sufficient statistic (per-day
    partials combine into any coarser grain). Skew/kurtosis are
    division-created: floor-formula r2/r4. Skewness can be NEGATIVE —
    the floor formula there is round-half-toward-+inf rather than
    half-away (rounding.py's documented non-negative caveat); that is
    deliberate: the contract is CROSS-ENGINE EQUALITY of the literal
    formula, which holds for any sign, not IEEE half-away fidelity.
    """
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    m = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(p).alias("m1"),
        F.avg(p * p).alias("m2"),
        F.avg(p * p * p).alias("m3"),
        F.avg(p * p * p * p).alias("m4"),
    )
    m1, m2, m3, m4 = F.col("m1"), F.col("m2"), F.col("m3"), F.col("m4")
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    kurt = (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * F.pow(m1, 4)) / F.pow(
        var, 2
    )
    return m.select(
        "o_orderstatus",
        "n",
        r2(var).alias("variance_pop"),
        r4(skew).alias("skewness_pop"),
        r4(kurt).alias("kurtosis_pop"),
    ).orderBy("o_orderstatus")


@register(
    "agg_entropy",
    category="aggregates",
    oracle="""
    WITH counts AS (
      SELECT user_id % 10 AS user_decile, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT user_decile, CAST(sum(n) AS DOUBLE) AS total
      FROM counts GROUP BY user_decile
    )
    SELECT c.user_decile,
           CAST(max(t.total) AS BIGINT) AS n_events,
           floor((-sum((c.n / t.total) * ln(c.n / t.total)))
                 * 10000 + 0.5) / 10000 AS entropy_nats
    FROM counts c JOIN tot t ON c.user_decile = t.user_decile
    GROUP BY c.user_decile
    ORDER BY c.user_decile
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user decile's event-type mix — the
    diversity/balance metric behind drift monitors, split-quality
    scoring, and exploration dashboards (max ln(5) ≈ 1.609 nats for a
    uniform 5-type mix).

    Two chained aggregates: per-(decile, type) counts, then the decile
    total broadcast back onto its ≤5 count rows for the -Σ p·ln p fold
    — the groups are tiny, so both shuffles carry map-side-combined
    partials only. The same shape computes entropy over ANY
    categorical column (language mix per source, label balance per
    split); entropy of counts is NOT mergeable across partials, which
    is exactly why the counts (which ARE mergeable) are the persisted
    sufficient statistic and entropy derives at read time. Division-
    created doubles: floor-formula r4.
    """
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        (F.col("user_id") % 10).alias("user_decile"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("user_decile").agg(
        F.sum("n").cast("double").alias("total")
    )
    p = F.col("n") / F.col("total")
    return (
        counts.join(tot, "user_decile")
        .groupBy("user_decile")
        .agg(
            F.max("total").cast("bigint").alias("n_events"),
            r4(-F.sum(p * F.log(p))).alias("entropy_nats"),
        )
        .orderBy("user_decile")
    )


@register(
    "agg_mean_family",
    category="aggregates",
    oracle="""
    SELECT event_type,
           count(*)                                           AS n,
           floor(avg(value) * 100 + 0.5) / 100                AS arith_mean,
           floor(exp(avg(ln(value))) * 10000 + 0.5) / 10000   AS geo_mean,
           floor(count(*) / sum(1.0 / value) * 10000 + 0.5) / 10000
                                                              AS harm_mean
    FROM events
    WHERE value > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three Pythagorean means per group in one aggregate pass —
    arithmetic for totals, geometric for compounding rates (the CAGR /
    benchmark-score average), harmonic for rate averages (throughput,
    P/E) — with AM >= GM >= HM as the built-in sanity invariant.

    Each mean reduces to one mergeable running sum (Σx, Σln x, Σ1/x)
    plus the count, so all three compute in a single partial-
    aggregating shuffle; geometric via exp(avg(ln x)) is the overflow-
    safe form (a product of 10^4 values overflows doubles, the log-sum
    never does). Geometric/harmonic means exist only on positive
    support, so the op filters value > 0 explicitly (sf0.1 contains
    zeros) — the filter is part of the means' definition, not a data
    patch; division/exp-created doubles use the floor formula.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r2(F.avg("value")).alias("arith_mean"),
            r4(F.exp(F.avg(F.log("value")))).alias("geo_mean"),
            r4(F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("value"))).alias(
                "harm_mean"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "agg_weighted_mean",
    category="aggregates",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           floor(avg(l_discount) * 10000 + 0.5) / 10000 AS unweighted_disc,
           floor(sum(l_discount * l_extendedprice) / sum(l_extendedprice)
                 * 10000 + 0.5) / 10000                 AS revenue_weighted_disc
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted vs unweighted mean in one pass: the revenue-weighted
    average discount beside the naive per-line average — the
    Simpson's-paradox guard every pricing/mix analysis needs (big
    orders at deep discounts move the weighted figure far from the
    line-count average).

    Both means are ratios of mergeable running sums (Σwx, Σw, Σx, n)
    computed in ONE partial-aggregating shuffle — never a second scan
    for the weights. Division-created doubles: floor-formula r4 on
    both engines.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r4(F.avg("l_discount")).alias("unweighted_disc"),
            r4(
                F.sum(F.col("l_discount") * F.col("l_extendedprice"))
                / F.sum("l_extendedprice")
            ).alias("revenue_weighted_disc"),
        )
        .orderBy("l_returnflag")
    )


def _kmv_hex_to_int_sql(col_sql: str) -> str:
    """60-bit integer from the first 15 hex nibbles of md5(col) —
    DuckDB has no hex→int conversion, so the nibbles are summed
    arithmetically (same trick as the simhash oracle); Spark's twin is
    conv(substr(md5, 1, 15), 16, 10). Identical integers both ways."""
    terms = [
        f"(strpos('0123456789abcdef', substr(md5({col_sql}), {i + 1}, 1))"
        f" - 1) * {16 ** (14 - i)}"
        for i in range(15)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "agg_kmv_theta_distinct",
    category="aggregates",
    oracle=f"""
    WITH hashes AS (
      SELECT DISTINCT event_type,
             {_kmv_hex_to_int_sql("CAST(user_id AS VARCHAR)")} AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h)
               AS rn
      FROM hashes
    ),
    kth AS (
      SELECT event_type,
             max(CASE WHEN rn = 64 THEN h END) AS hk,
             count(*) AS n_h
      FROM ranked GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type
    ),
    est AS (
      SELECT event_type, exact_users,
             CASE WHEN hk IS NULL THEN CAST(n_h AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976 / hk END AS e
      FROM exact JOIN kth USING (event_type)
    )
    SELECT event_type, exact_users,
           floor(e * 100 + 0.5) / 100 AS kmv_estimate,
           abs(e - exact_users) / exact_users < 0.3 AS kmv_ok
    FROM est
    ORDER BY event_type
    """,
)
def agg_kmv_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta-sketch family) distinct-count
    estimation, k = 64 — the LAST classic mergeable sketch beside HLL
    (distinct), CMS (frequency), t-digest (percentile), approx_top_k
    (heavy hitters): keep the k smallest hash values per group; the
    kth smallest normalized to [0,1) is θ, and (k-1)/θ estimates the
    distinct count. Unlike HLL the kept values also support SET
    ALGEBRA (union = merge-and-trim, intersection via inclusion-
    exclusion on the combined θ) — why the theta family exists.

    The hash is md5-derived (xxhash64 has no DuckDB twin) and
    DETERMINISTIC, so unlike agg_approx_distinct's implementation-
    defined HLL estimate the whole estimator — hash, kth-order
    statistic, estimate, 30% tolerance verdict (k=64 ⇒ σ ≈ 1/√62 ≈
    13%) — is replayed exactly by the oracle and hash-certified. Cost
    shape at 100 TB: per-partition top-k-smallest partial aggregates
    (the sort is k·log k per partition, mergeable), one shuffle on the
    group key; the estimate itself is one row per group.
    """
    events = load(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    hashes = events.select("event_type", h.alias("h")).distinct()
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("h")
    # Below k distinct values the sketch HOLDS everything and is exact
    # — the real KMV contract, which also keeps the tiny-sf fixture
    # meaningful instead of empty.
    #
    # The rank filter rn <= 64 BEFORE the aggregate is load-bearing:
    # Catalyst's InferWindowGroupLimit rewrites it into a partial
    # WindowGroupLimit below the shuffle, so every partition forwards
    # at most 64 hashes per group — the mergeable per-partition
    # top-k-smallest shape the sketch contract promises — instead of
    # sorting the whole distinct-hash relation through one partition
    # per group. n_h (needed only for the <k exact fallback) comes
    # from a windowless groupBy count on the same distinct-hash relation.
    kth = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("event_type")
        .agg(F.max(F.when(F.col("rn") == 64, F.col("h"))).alias("hk"))
        .join(
            hashes.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_h")
            ),
            "event_type",
        )
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    est = F.when(
        F.col("hk").isNull(), F.col("n_h").cast("double")
    ).otherwise(F.lit(63.0) * F.lit(float(1 << 60)) / F.col("hk"))
    out = (
        exact.join(kth, "event_type")
        .select(
            "event_type",
            "exact_users",
            (F.floor(est * 100 + F.lit(0.5)) / 100).alias("kmv_estimate"),
            (
                F.abs(est - F.col("exact_users")) / F.col("exact_users")
                < 0.3
            ).alias("kmv_ok"),
        )
        .orderBy("event_type")
    )
    return out


@register(
    "agg_quantile_bin_sketch",
    category="aggregates",
    oracle="""
    WITH bins AS (
      SELECT LEAST(CAST(floor(l_extendedprice / 250.0) AS BIGINT), 479)
               AS bin,
             count(*) AS n
      FROM lineitem
      GROUP BY 1
    ),
    cum AS (
      SELECT bin, n,
             sum(n) OVER (ORDER BY bin) AS cum_n,
             sum(n) OVER ()             AS total_n
      FROM bins
    ),
    qs AS (SELECT unnest([0.50, 0.90, 0.99]) AS q)
    SELECT q,
           min(bin) * 250               AS est_value,
           CAST(max(total_n) AS BIGINT) AS n_rows
    FROM qs JOIN cum
      ON cum.cum_n >= CAST(ceil(q * cum.total_n) AS BIGINT)
    GROUP BY q
    ORDER BY q
    """,
)
def agg_quantile_bin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram sketch → quantile estimates.

    The distributed-quantile discipline when t-digest/KLL libraries are
    unavailable: a 480-bin equi-width histogram over a FIXED domain
    ([0, 120 000) at width 250, top bin clamps the tail) is a pure
    map-side groupBy — each executor's partial histogram is a ≤480-row
    dictionary, merging is vector addition (Spark's partial aggregation
    does it for free) — then the quantile inverts the cumulative
    distribution on the bin relation: est(q) = lower edge of the first
    bin whose cumulative count reaches ⌈q·n⌉.  Error is bounded by bin
    width (250 ≈ 0.2% of the domain), INDEPENDENT of row count or
    partitioning — the same 480-row state summarizes 100 TB, and every
    step is exact integer arithmetic, so the estimate is bit-identical
    cross-engine (no float-quantile interpolation to diverge).
    """
    li = load(spark, sf_dir, "lineitem")
    bins = (
        li.select(
            F.least(
                F.floor(F.col("l_extendedprice") / 250.0).cast("bigint"),
                F.lit(479).cast("bigint"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        "bin",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("n").over(wt).alias("total_n"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.50), F.lit(0.90), F.lit(0.99))).alias("q")
    )
    return (
        F.broadcast(qs)
        .join(cum, cum.cum_n >= F.ceil(qs.q * cum.total_n).cast("bigint"))
        .groupBy("q")
        .agg(
            (F.min("bin") * 250).alias("est_value"),
            F.max("total_n").alias("n_rows"),
        )
        .orderBy("q")
    )


@register(
    "agg_theta_set_ops",
    category="aggregates",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT {_kmv_hex_to_int_sql("CAST(user_id AS VARCHAR)")} AS h
      FROM events WHERE event_type = 'click'
    ),
    hb AS (
      SELECT DISTINCT {_kmv_hex_to_int_sql("CAST(user_id AS VARCHAR)")} AS h
      FROM events WHERE event_type = 'view'
    ),
    ka AS (
      SELECT max(CASE WHEN rn = 128 THEN h END) AS hk
      FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha)
    ),
    kb AS (
      SELECT max(CASE WHEN rn = 128 THEN h END) AS hk
      FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb)
    ),
    ku AS (
      SELECT max(CASE WHEN rn = 128 THEN h END) AS hk, count(*) AS n_u
      FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
            FROM (SELECT h FROM ha UNION SELECT h FROM hb))
    ),
    theta AS (
      SELECT least(coalesce(ka.hk, 1152921504606846976),
                   coalesce(kb.hk, 1152921504606846976)) AS th
      FROM ka CROSS JOIN kb
    ),
    inter_ret AS (
      SELECT count(*) AS m
      FROM ha JOIN hb USING (h) CROSS JOIN theta
      WHERE ha.h < theta.th
    ),
    exact AS (
      SELECT
        (SELECT count(DISTINCT user_id) FROM events
         WHERE event_type = 'click') AS exact_a,
        (SELECT count(DISTINCT user_id) FROM events
         WHERE event_type = 'view') AS exact_b,
        (SELECT count(DISTINCT user_id) FROM events
         WHERE event_type IN ('click', 'view')) AS exact_union,
        (SELECT count(*) FROM
          (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
           INTERSECT
           SELECT DISTINCT user_id FROM events WHERE event_type = 'view'))
          AS exact_inter
    ),
    est AS (
      SELECT
        CASE WHEN ku.hk IS NULL THEN CAST(ku.n_u AS DOUBLE)
             ELSE 127.0 * 1152921504606846976 / ku.hk END AS e_union,
        CASE WHEN theta.th = 1152921504606846976
             THEN CAST(inter_ret.m AS DOUBLE)
             ELSE CAST(inter_ret.m AS DOUBLE)
                  * 1152921504606846976 / CAST(theta.th AS DOUBLE) END
          AS e_inter
      FROM ku CROSS JOIN theta CROSS JOIN inter_ret
    )
    SELECT exact_a, exact_b, exact_union, exact_inter,
           floor(e_union * 100 + 0.5) / 100 AS est_union,
           floor(e_inter * 100 + 0.5) / 100 AS est_inter,
           abs(e_union - exact_union) / exact_union < 0.3  AS union_ok,
           abs(e_inter - exact_inter) / exact_inter < 0.35 AS inter_ok
    FROM exact CROSS JOIN est
    """,
)
def agg_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA: estimate |A∪B| and — the operation HLL
    fundamentally cannot do — |A∩B|, from two k=128 KMV sketches of the
    click-user and view-user sets, with exact baselines and in-plan
    tolerance verdicts (the sketch-beside-exact discipline of the
    approx_distinct/percentile/CMS family).

    Union = merge both hash sets and re-trim to k (the mergeable-
    sketch property); intersection = count retained hashes present in
    BOTH samples below θ = min(θ_A, θ_B), scaled by 1/θ — the
    Datasketches theta算法 exactly, on the repo's deterministic
    md5-derived 60-bit hashes, so the WHOLE estimator replays in the
    oracle and hash-certifies (unlike library HLL whose estimate is
    implementation-defined). Small-population fallback: when a side
    retains fewer than k hashes its θ is 2⁶⁰ and the estimates
    degrade gracefully to exact counts. At 100 TB each sketch is a
    per-partition top-k-smallest partial aggregate (k·log k per
    partition, 64 longs over the wire); set algebra then runs on
    256 rows.
    """
    events = load(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    FULL = 1152921504606846976
    # r15 negative result, measured and reverted: fusing the six
    # events scans (two per-type distincts, the 3-way expand
    # countDistinct, the two-scan INTERSECT) into one user-keyed
    # membership aggregate ran 1.04 s -> 2.17 s (interleaved A/B) —
    # the replaced scans are cheap column-pruned reads with map-side
    # partial dedup, while the fused shape pays a user-grain hash
    # aggregate, a persist, and three extra distinct exchanges.
    ha = (
        events.filter(F.col("event_type") == "click")
        .select(h.alias("h"))
        .distinct()
    )
    hb = (
        events.filter(F.col("event_type") == "view")
        .select(h.alias("h"))
        .distinct()
    )

    def kth(df):
        # Global kth-smallest WITHOUT a single-partition window:
        # orderBy().limit(k) compiles to TakeOrderedAndProject — each
        # partition keeps its local 128 smallest, one bounded merge —
        # then max() of those 128 rows IS the kth value. Fewer than k
        # survivors ⇒ the sketch holds everything ⇒ hk NULL (θ = 2⁶⁰).
        return (
            df.orderBy("h")
            .limit(128)
            .agg(
                F.when(
                    F.count(F.lit(1)) == 128, F.max(F.col("h"))
                ).alias("hk")
            )
        )

    ka = kth(ha).select(F.col("hk").alias("hka"))
    kb = kth(hb).select(F.col("hk").alias("hkb"))
    un = ha.unionByName(hb).distinct()
    ku = (
        kth(un)
        .select(F.col("hk").alias("hku"))
        .crossJoin(
            F.broadcast(un.agg(F.count(F.lit(1)).alias("n_u")))
        )
    )
    theta = ka.crossJoin(kb).selectExpr(
        f"least(coalesce(hka, {FULL}L), coalesce(hkb, {FULL}L)) AS th"
    )
    # GLOBAL aggregate (groupBy().agg), not groupBy("th"): when no
    # intersection hash falls below θ the grouped form returns ZERO
    # rows and the downstream crossJoin would empty the whole output,
    # while the oracle's plain count(*) yields one m=0 row. The global
    # agg always produces exactly one row; θ is re-attached by a
    # 1×1 crossJoin so est still sees both m and th.
    inter_ret = (
        ha.join(hb, "h")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("m"))
        .crossJoin(F.broadcast(theta))
    )
    exact = events.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("exact_b"),
        F.countDistinct(
            F.when(
                F.col("event_type").isin("click", "view"), F.col("user_id")
            )
        ).alias("exact_union"),
    )
    exact_inter = (
        events.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .intersect(
            events.filter(F.col("event_type") == "view")
            .select("user_id")
            .distinct()
        )
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    est = ku.crossJoin(F.broadcast(inter_ret)).selectExpr(
        "CASE WHEN hku IS NULL THEN CAST(n_u AS DOUBLE)"
        f" ELSE 127.0D * {FULL}L / hku END AS e_union",
        f"CASE WHEN th = {FULL}L THEN CAST(m AS DOUBLE)"
        f" ELSE CAST(m AS DOUBLE) * {FULL}L / CAST(th AS DOUBLE) END"
        " AS e_inter",
    )
    out = (
        exact.crossJoin(F.broadcast(exact_inter))
        .crossJoin(F.broadcast(est))
        .selectExpr(
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_inter",
            "floor(e_union * 100 + 0.5) / 100 AS est_union",
            "floor(e_inter * 100 + 0.5) / 100 AS est_inter",
            "abs(e_union - exact_union) / exact_union < 0.3 AS union_ok",
            "abs(e_inter - exact_inter) / exact_inter < 0.35 AS inter_ok",
        )
    )
    return out


# --- KMV epoch rollup (promoted from staging/r12 at round 12) ----------
#
# Portable 60-bit hash (the r11 dedup_minhash_banded bridge — md5 is the
# one hash family Spark and DuckDB share bit-for-bit).
_KMV_HASH_SPARK = (
    "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 15), 16, 10)"
    " as bigint)"
)
_KMV_HASH_DUCK = (
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT"
)

_KMV_K = 64
# Hashes are uniform on [0, 2^60); the KMV estimate divides (k-1) by
# the k-th smallest. To keep the numerator in int64 the hash is
# order-preservingly reduced to [0, 2^40) (integer div by 2^20):
# (k-1) * 2^40 = 63 * 1.1e12 ≈ 6.9e13 — ANSI-safe at any scale.
_KMV_DOMAIN = 1 << 40
_KMV_SHIFT = 1 << 20

ORACLE_KMV = f"""
    WITH ev AS (
      SELECT (CAST(dayofmonth(ts) AS INT) - 1) // 5 AS epoch,
             {_KMV_HASH_DUCK} AS h, user_id
      FROM events
    ),
    hashes AS (SELECT DISTINCT epoch, h FROM ev),
    sketch AS (
      SELECT epoch, h FROM (
        SELECT epoch, h,
               row_number() OVER (PARTITION BY epoch ORDER BY h) AS rk
        FROM hashes
      ) WHERE rk <= {_KMV_K}
    ),
    merged AS (
      SELECT DISTINCT e.epoch, s.h
      FROM (SELECT DISTINCT epoch FROM hashes) e
      JOIN sketch s ON s.epoch <= e.epoch
    ),
    kth AS (
      SELECT epoch,
             CAST(max(rk) AS BIGINT) AS sketch_size,
             max(CASE WHEN rk = {_KMV_K} THEN h END) AS hk
      FROM (
        SELECT epoch, h,
               row_number() OVER (PARTITION BY epoch ORDER BY h) AS rk
        FROM merged
      ) GROUP BY epoch
    ),
    fe AS (
      SELECT min((CAST(dayofmonth(ts) AS INT) - 1) // 5) AS fe
      FROM events GROUP BY user_id
    ),
    fec AS (SELECT fe, count(*) AS nu FROM fe GROUP BY fe),
    exact AS (
      SELECT e.epoch, CAST(sum(f.nu) AS BIGINT) AS exact_users
      FROM (SELECT DISTINCT epoch FROM hashes) e
      JOIN fec f ON f.fe <= e.epoch
      GROUP BY e.epoch
    )
    SELECT k.epoch, k.sketch_size,
           CASE WHEN k.sketch_size < {_KMV_K} THEN k.sketch_size
                ELSE ({_KMV_K} - 1) * {_KMV_DOMAIN}
                     // greatest(k.hk // {_KMV_SHIFT}, 1)
           END AS est_users,
           e.exact_users
    FROM kth k JOIN exact e ON e.epoch = k.epoch
    ORDER BY k.epoch
    """


@register(
    "agg_kmv_epoch_rollup",
    category="aggregates",
    oracle=ORACLE_KMV,
)
def agg_kmv_epoch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user estimation by KMV (k-minimum-values)
    sketch MERGE across 5-day epochs — the mergeable-sketch rollup a
    CDC pipeline runs when "distinct users to date" must be cheap at
    every epoch boundary without rescanning history.

    Per epoch the sketch is the k=64 smallest DISTINCT portable hashes
    (exact top-k-per-group: one distinct shuffle then a rank ≤ k
    window — WindowGroupLimit, bounded state, the 100 TB shape). The
    cumulative sketch for epoch e is the MERGE of epochs 0..e: union
    the (≤ #epochs × k)-row sketch relation, take the k smallest
    again — sketch merges never touch the data a second time, which
    is the entire point of KMV. Estimate = (k−1)·2^40 div h_k
    (integer division on the order-preservingly reduced hash: both
    engines produce the identical integer); when a prefix holds fewer
    than k distinct hashes the estimate is the exact sketch size
    (standard KMV small-cardinality rule — exercised at sf0.001 where
    only 15 users exist). The reduced divisor is clamped to ≥1 on both
    engines: hk div 2^20 = 0 needs the k-th smallest 60-bit hash below
    2^20 (~2^46 distinct users), astronomically unlikely but not a
    reason to leave a /0 on the estimating branch. ``exact_users``
    rides along via the first-epoch-per-user trick (min(epoch) per
    user + running count — one distinct agg, no prefix re-scans), so
    the oracle certifies estimate AND truth.
    """
    # r15 negative result, measured and reverted: deduping to the
    # (epoch, user) grain first (md5 after dedup, first_epoch off the
    # same cached relation) ran ~1.0-1.2 s -> ~1.3-1.6 s across four
    # interleaved A/B alternations — the extra fact-grain distinct
    # exchange costs more than the saved events scan + per-event md5
    # at this scale.
    ev = load(spark, sf_dir, "events").selectExpr(
        "int(dayofmonth(ts) - 1) div 5 AS epoch",
        f"{_KMV_HASH_SPARK} AS h",
        "user_id",
    )
    hashes = ev.select("epoch", "h").distinct()
    w = Window.partitionBy("epoch").orderBy("h")
    sketch = (
        hashes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .select("epoch", "h")
    )
    # Merge: every epoch e sees every sketch row from f <= e; the
    # sketch relation is tiny (#epochs × k), so the theta-join is a
    # broadcast of sketch rows, never data.
    epochs = hashes.select("epoch").distinct().alias("e")
    merged = epochs.join(
        F.broadcast(sketch.alias("s")),
        F.col("s.epoch") <= F.col("e.epoch"),
    ).select(F.col("e.epoch").alias("epoch"), "h").distinct()
    wm = Window.partitionBy("epoch").orderBy("h")
    kth = (
        merged.withColumn("rk", F.row_number().over(wm))
        .groupBy("epoch")
        .agg(
            F.max("rk").cast("bigint").alias("sketch_size"),
            F.max(
                F.when(F.col("rk") == _KMV_K, F.col("h"))
            ).alias("hk"),
        )
        .selectExpr(
            "epoch",
            "sketch_size",
            # greatest(..., 1): the reduced k-th hash is zero only if
            # hk < 2^20 (≈ requires 2^46 distinct users — but an
            # unguarded /0 on the estimating branch is still a bug;
            # round-11 ADVICE). Clamp identically on both engines.
            f"CASE WHEN sketch_size < {_KMV_K} THEN sketch_size "
            f"ELSE ({_KMV_K} - 1) * {_KMV_DOMAIN}L div "
            f"greatest(hk div {_KMV_SHIFT}, 1L) END AS est_users",
        )
    )
    first_epoch = (
        load(spark, sf_dir, "events")
        .selectExpr("int(dayofmonth(ts) - 1) div 5 AS epoch", "user_id")
        .groupBy("user_id")
        .agg(F.min("epoch").alias("fe"))
        .groupBy("fe")
        .agg(F.count(F.lit(1)).alias("nu"))
    )
    # Every rollup epoch needs its exact row even when no NEW user
    # appears in it (with a small user domain everyone is seen in
    # epoch 0): carry the cumulative count to all epochs via the same
    # tiny broadcast theta-join used for the sketch merge.
    exact = (
        epochs.join(
            F.broadcast(first_epoch), F.col("fe") <= F.col("e.epoch")
        )
        .groupBy(F.col("e.epoch").alias("epoch"))
        .agg(F.sum("nu").cast("bigint").alias("exact_users"))
    )
    out = (
        kth.join(exact, "epoch")
        .select("epoch", "sketch_size", "est_users", "exact_users")
        .orderBy("epoch")
    )
    return out


# --- r12 growth: linear counting sketch -------------------------------------


@register(
    "agg_linear_counting",
    category="aggregates",
    oracle=f"""
    WITH buckets AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               % 1024 AS b
      FROM events
    ),
    occ AS (
      SELECT event_type, CAST(count(DISTINCT b) AS BIGINT) AS occupied
      FROM buckets GROUP BY 1
    ),
    exact AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
               AS exact_users
      FROM events GROUP BY 1
    )
    SELECT o.event_type, CAST(1024 AS BIGINT) AS m, o.occupied,
           e.exact_users,
           CASE WHEN o.occupied >= 1024 THEN false
                ELSE abs(-1024.0 * ln(1.0 - o.occupied / 1024.0)
                         - e.exact_users)
                     <= 0.05 * greatest(e.exact_users, 20)
           END AS est_within_5pct
    FROM occ o JOIN exact e ON e.event_type = o.event_type
    ORDER BY o.event_type
    """,
)
def agg_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR COUNTING distinct estimator (Whang et al. 1990) per
    event_type — the small-cardinality sketch HLL implementations
    switch to below ~5m/2 distincts: hash each key into one of
    m = 1024 buckets, count occupied buckets V, estimate
    n̂ = −m·ln(1 − V/m). The hash is the repo's PORTABLE md5-derived
    60-bit integer (dedup_minhash_banded bridge), so the sketch STATE
    (per-type occupancy) is bit-identical across engines and rides the
    driver hash directly; the ln()-based estimate — libm-dependent in
    its last ulp, the one float this repo never certifies raw — is
    folded into an in-plan tolerance verdict instead (|n̂ − n| within
    5% of max(n, 20)), the agg_hll_sketch_union convention. The
    V = m saturation branch (ln(0): DuckDB raises, Spark returns
    NULL — the SKILL.md divergence) is CASE-guarded identically on
    both engines before the logarithm can evaluate.

    Scale shape: ONE map-side-combined aggregate to (type, bucket)
    pairs — ≤ 5·1024 rows cross the wire regardless of corpus size —
    then a ≤5-row join against the exact rollup (the certification
    ride-along; production drops it and keeps the 1 KiB sketch).
    Sketches merge by bucket-set union, the same mergeability contract
    as the KMV/HLL/theta family.
    """
    ev = load(spark, sf_dir, "events")
    occ = (
        ev.selectExpr(
            "event_type",
            "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 15), 16, 10)"
            " as bigint) % 1024 AS b",
        )
        .groupBy("event_type")
        .agg(F.countDistinct("b").cast("bigint").alias("occupied"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        occ.join(exact, "event_type")
        .selectExpr(
            "event_type",
            "CAST(1024 AS BIGINT) AS m",
            "occupied",
            "exact_users",
            "CASE WHEN occupied >= 1024 THEN false"
            " ELSE abs(-1024.0D * ln(1.0D - occupied / 1024.0D)"
            " - exact_users) <= 0.05D * greatest(exact_users, 20L)"
            " END AS est_within_5pct",
        )
        .orderBy("event_type")
    )


# --- r13 mergeable moment-rollup promotion (from staging/r13) -----------
_MOMENT_DAILY_DUCK = """
      SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                  AS BIGINT) AS day_idx,
             CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
"""


@register(
    "agg_moment_rollup_mergeable",
    category="aggregates",
    oracle=f"""
    WITH daily AS ({_MOMENT_DAILY_DUCK}),
    epochs AS (
      SELECT event_type, day_idx // 5 AS epoch,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      FROM daily GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, epoch,
             CAST(sum(n) OVER w AS BIGINT) AS cn,
             CAST(sum(s) OVER w AS BIGINT) AS cs,
             CAST(sum(q) OVER w AS HUGEINT) AS cq
      FROM epochs
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(epoch AS BIGINT) AS epoch, cn AS n_days,
           floor(CAST(cs AS DOUBLE) / cn * 100 + 0.5) / 100
             AS mean_cents,
           CASE WHEN cn >= 2 THEN
             floor(sqrt(CAST(CAST(cn AS HUGEINT) * cq
                             - CAST(cs AS HUGEINT) * cs AS DOUBLE))
                   / cn * 100 + 0.5) / 100
           END AS pop_std_cents
    FROM cum
    ORDER BY event_type, epoch
    """,
)
def agg_moment_rollup_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE MOMENT-SKETCH ROLLUP — running mean and population
    std of the daily series at every 5-day epoch boundary, computed by
    MERGING per-epoch moment triples (n, Σx, Σx²) instead of
    rescanning history: the (count, sum, sum-of-squares) triple is the
    simplest mergeable sketch there is, and this op is the exact-
    moments companion to agg_kmv_epoch_rollup (distinct counts) —
    together they demonstrate the epoch-rollup pattern for both sketch
    classes a CDC consumer needs. The merge is ONE window prefix sum
    over the per-epoch triples (epoch-domain-sized), after which every
    epoch's cumulative mean/std is closed-form.

    Exactness: the triples are exact integers (wide Σx²); mean and
    std are one pinned double expression each over the cumulative
    integers (n-scaled variance identity under the sqrt), r2-floored.
    The invariant test re-derives a boundary epoch's output from the
    RAW daily rows and pins merge-vs-rescan equality — the defining
    property of a mergeable sketch.

    Scale shape: calendar-collapse groupBy, a <= 6-row-per-type epoch
    aggregate, one bounded window. Nothing data-sized after the scan.
    """
    daily = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "unix_micros(date_trunc('DAY', CAST(ts AS TIMESTAMP)))"
            " div 86400000000 AS day_idx",
            "value",
        )
        .groupBy("event_type", "day_idx")
        .agg(
            F.expr("CAST(floor(sum(value) * 100 + 0.5) AS BIGINT)").alias("x")
        )
    )
    wide = "DECIMAL(38,0)"
    epochs = daily.groupBy(
        "event_type", F.expr("day_idx div 5").alias("epoch")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(x AS {wide}) * x")).alias("q"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = epochs.select(
        "event_type",
        "epoch",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("s").over(w).cast("bigint").alias("cs"),
        F.sum("q").over(w).cast(wide).alias("cq"),
    )
    return cum.selectExpr(
        "event_type",
        "CAST(epoch AS BIGINT) AS epoch",
        "cn AS n_days",
        "floor(CAST(cs AS DOUBLE) / cn * 100 + 0.5) / 100 AS mean_cents",
        "CASE WHEN cn >= 2 THEN"
        f" floor(sqrt(CAST(CAST(cn AS {wide}) * cq"
        f" - CAST(cs AS {wide}) * cs AS DOUBLE))"
        " / cn * 100 + 0.5) / 100"
        " END AS pop_std_cents",
    ).orderBy("event_type", "epoch")


# --- r13 growth: DDSketch relative-error quantile rollup ----------------
#
# gamma = (1+alpha)/(1-alpha) with alpha = 1% -> 101/99 exactly; both
# engines spell the constant as CAST(101 AS DOUBLE)/99 so the bucket
# boundary doubles are bit-identical.
_DD_LGAMMA = "ln(CAST(101 AS DOUBLE) / 99)"
_DD_GAMMA = "(CAST(101 AS DOUBLE) / 99)"
_DD_QS = (50, 95, 99)  # integer percent targets (exact rank arithmetic)


@register(
    "agg_ddsketch_quantile",
    category="aggregates",
    oracle=f"""
    WITH vals AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ),
    buckets AS (
      SELECT l_returnflag,
             CAST(ceil(ln(CAST(cents AS DOUBLE)) / {_DD_LGAMMA})
                  AS BIGINT) AS i,
             CAST(count(*) AS BIGINT) AS cnt
      FROM vals GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, i, cnt,
             CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c,
             CAST(sum(cnt) OVER (PARTITION BY l_returnflag)
               AS BIGINT) AS n
      FROM buckets
    ),
    hits AS (
      SELECT l_returnflag, q_pct,
             CAST(min(i) AS BIGINT) AS bucket_idx,
             CAST(min(n) AS BIGINT) AS n_rows
      FROM cum
      CROSS JOIN (SELECT unnest([{", ".join(str(q) for q in _DD_QS)}])
                  AS q_pct) qs
      WHERE c >= (n * q_pct + 99) // 100
      GROUP BY 1, 2
    )
    SELECT l_returnflag, CAST(q_pct AS BIGINT) AS q_pct, bucket_idx,
           n_rows,
           floor(2e0 * pow({_DD_GAMMA}, bucket_idx)
                 / ({_DD_GAMMA} + 1) + 0.5) / 100 AS est_price
    FROM hits
    ORDER BY l_returnflag, q_pct
    """,
)
def agg_ddsketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSKETCH quantile rollup (Masson, Lee & Rim, VLDB 2019) — the
    relative-error quantile sketch: values land in log-spaced buckets
    i = ceil(log_gamma(x)) with gamma = (1+a)/(1-a) at a = 1%, and any
    quantile is answered from the bucket histogram with guaranteed
    relative error <= a (the estimate 2·gamma^i/(gamma+1) is the
    geometric midpoint of bucket i's [gamma^(i-1), gamma^i] range).
    Unlike rank-error sketches (agg_approx_percentile's KLL family),
    the guarantee is on the VALUE axis — the p99 of a heavy-tailed
    price distribution is within 1% of truth no matter how stretched
    the tail — and the bucket histogram is trivially MERGEABLE
    (integer adds), the property that makes it the per-shard rollup
    sketch at 100 TB: map-side partial histograms merge through one
    tiny shuffle keyed on (group, bucket), never on rows.

    Exactness: bucket assignment is the only float step (identical
    ln-ratio expression both engines, boundary collisions measure-
    zero); ranks are exact integer ceil arithmetic ((n*q+99) div 100,
    positive operands so Spark's truncating div == DuckDB's floor //);
    the invariant test pins the <= 1% relative-error guarantee against
    exact per-group percentiles. Scale shape: one groupBy to a
    domain-sized (group x ~400 bucket) histogram, one bounded window,
    a 3-row quantile fan-out.
    """
    vals = load(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    buckets = (
        vals.selectExpr(
            "l_returnflag",
            f"CAST(ceil(ln(CAST(cents AS DOUBLE)) / {_DD_LGAMMA})"
            " AS BIGINT) AS i",
        )
        .groupBy("l_returnflag", "i")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = buckets.select(
        "l_returnflag",
        "i",
        F.sum("cnt").over(wcum).cast("bigint").alias("c"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"),
    )
    qs = spark.range(0, len(_DD_QS)).selectExpr(
        "CASE id " + " ".join(
            f"WHEN {j} THEN {q}L" for j, q in enumerate(_DD_QS)
        ) + " END AS q_pct"
    )
    hits = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.expr("c >= (n * q_pct + 99) div 100"))
        .groupBy("l_returnflag", "q_pct")
        .agg(
            F.min("i").cast("bigint").alias("bucket_idx"),
            F.min("n").cast("bigint").alias("n_rows"),
        )
    )
    return hits.selectExpr(
        "l_returnflag",
        "CAST(q_pct AS BIGINT) AS q_pct",
        "bucket_idx",
        "n_rows",
        f"floor(2e0 * power({_DD_GAMMA}, bucket_idx)"
        f" / ({_DD_GAMMA} + 1) + 0.5) / 100 AS est_price",
    ).orderBy("l_returnflag", "q_pct")
