"""Relational core queries (SURVEY.md §2.1–2.7): scan/filter/project, joins of
every flavor, the full aggregation surface, windows, sort/limit/top-k, set ops.

Reference surface being matched: dask.dataframe's pandas-style ops
(``df[mask]``, ``groupby().agg``, ``merge``, ``nlargest``, ``rolling`` —
SURVEY.md §2.2–2.6), re-expressed as Catalyst-optimizable DataFrame plans.
Scale notes are per-query; the common ones: filters/projections sit directly
on the parquet scan (pushdown), aggregations are partial+final hash aggs, and
every small dimension side is broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.fuzzy import edit_distance_join, edit_distance_lookup
from ..operators.graph import (
    bfs_hops,
    bfs_oracle_cte,
    kcore_oracle_cte,
    kcore_peel,
    label_propagation,
    lpa_oracle_cte,
    pagerank,
    pagerank_oracle_cte,
    sssp_bounded,
    sssp_oracle_cte,
)
from ..operators.ranges import banded_range_join
from ..partitioning import pin_fanout
from ..sources import load_table


# --- scans / filter / projection -------------------------------------------


def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped filter + groupBy + 5 aggregates.

    Plan shape at scale: parquet scan with shipdate predicate pushed down →
    partial hash agg (map-side, 6 groups) → single shuffle of 6 rows →
    final agg. The shuffle payload is O(groups), not O(rows)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    # price sums reach ~1e10 at sf0.1; cross-engine summation-order noise is
    # ~1e-3 absolute there, so these round at 1 decimal (quantity sums are
    # ~1e6 and keep 2) — mirrored exactly in the oracle
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 1).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1).alias(
            "sum_disc_price"
        ),
        F.round(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ),
            1,
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


_AGG_GROUPBY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                            AS sum_qty,
       round(sum(l_extendedprice), 1)                                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 1)                    AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 1)      AS sum_charge,
       round(avg(l_quantity), 4)                                            AS avg_qty,
       round(avg(l_extendedprice), 4)                                       AS avg_price,
       round(avg(l_discount), 4)                                            AS avg_disc,
       count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_select_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + compound boolean mask (dask ``df[(m1) & (m2)][cols]``).
    Both the predicate and the 4-column projection reach the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45)
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


_SELECT_FILTER_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem
WHERE l_quantity > 45 AND l_discount >= 0.05 AND l_discount <= 0.07
"""


def q_derived_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """withColumn / assign: arithmetic + conditional derivations, narrow map."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # no rounding: both engines compute the identical IEEE double product,
        # and rounding per-row values only introduces half-way disagreements
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.when(F.col("l_quantity") >= 30, F.lit("bulk"))
        .when(F.col("l_quantity") >= 10, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("qty_band"),
        F.col("l_quantity").cast("int").alias("qty_int"),
    )


_DERIVED_COLUMN_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       CASE WHEN l_quantity >= 30 THEN 'bulk'
            WHEN l_quantity >= 10 THEN 'mid'
            ELSE 'small' END AS qty_band,
       CAST(l_quantity AS INTEGER) AS qty_int
FROM lineitem
WHERE l_orderkey < 2000
"""


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropna/fillna/isna surface: nullif → count(col) vs count(*) → coalesce."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "disc_n", F.nullif(F.col("l_discount"), F.lit(0.0))
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("disc_n").alias("n_discounted"),
        F.round(F.avg("disc_n"), 4).alias("avg_disc_nonzero"),
        F.round(F.sum(F.coalesce(F.col("disc_n"), F.lit(0.0))), 2).alias("disc_total"),
    )


_NULL_HANDLING_SQL = """
SELECT l_returnflag,
       count(*)                                        AS n_rows,
       count(NULLIF(l_discount, 0.0))                  AS n_discounted,
       round(avg(NULLIF(l_discount, 0.0)), 4)          AS avg_disc_nonzero,
       round(sum(coalesce(NULLIF(l_discount, 0.0), 0.0)), 2) AS disc_total
FROM lineitem
GROUP BY l_returnflag
"""


def q_sample_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample (`df.sample` surface made oracle-checkable
    via key-modulo instead of RNG): every 10th order key."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 1).alias("sum_price"),
    )


_SAMPLE_MOD_SQL = """
SELECT count(*) AS n_rows, round(sum(l_extendedprice), 1) AS sum_price
FROM lineitem WHERE l_orderkey % 10 = 0
"""


# --- sort / limit / top-k / set ops ----------------------------------------


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nlargest: Catalyst plans TakeOrderedAndProject — per-partition heaps +
    driver merge of k rows, never a full sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
    )


_TOPK_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort + limit (set_index/sort_values surface)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )


_SORT_LIMIT_SQL = """
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 100
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates on a column subset."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


_DISTINCT_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series.value_counts()."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))


_VALUE_COUNTS_SQL = (
    "SELECT o_orderpriority, count(*) AS cnt FROM orders GROUP BY o_orderpriority"
)


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except in one query: symmetric difference between
    the BUILDING segment and high-balance customers."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 7500).select("c_custkey")
    return a.union(b).distinct().subtract(a.intersect(b))


_SET_OPS_SQL = """
(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 UNION
 SELECT c_custkey FROM customer WHERE c_acctbal > 7500)
EXCEPT
(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 INTERSECT
 SELECT c_custkey FROM customer WHERE c_acctbal > 7500)
"""


# --- joins ------------------------------------------------------------------


def q_join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation: customer ⋈ orders ⋈ lineitem ⋈ nation.

    nation (25 rows) is explicitly broadcast; customer is left to Catalyst's
    size-based choice (broadcast at small SF, shuffle at scale). The
    lineitem⋈orders join is explicitly hinted shuffle-hash: both sides are
    fact-sized, so the scale-correct plan shuffles them on orderkey once
    (orders is the smaller build side) — and measured locally the hint also
    halves the runtime vs Catalyst's under-threshold broadcast of 150k-row
    orders. AQE handles hot-key skew."""
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("customer", "orders", "lineitem", "nation")
    }
    return (
        t["lineitem"]
        .join(t["orders"].hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


_JOIN_3WAY_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + null-aware count: order-count histogram including
    zero-order customers (count(col) skips the nulls the outer join makes)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


_JOIN_OUTER_SQL = """
SELECT n_orders, count(*) AS n_customers FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY n_orders
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (dask `isin` idiom): customers holding a >400k order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


_SEMI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti: customers who never placed an urgent order (every fixture
    customer has *some* order, so the filter keeps the result non-degenerate)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_acctbal"
    )


_ANTI_JOIN_SQL = """
SELECT c_custkey, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two tiny dims (dask dummy-key merge idiom)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).filter(F.col("r_regionkey") != F.col("n_regionkey")).select(
        "r_name", "n_name"
    )


_CROSS_JOIN_SQL = """
SELECT r_name, n_name FROM region CROSS JOIN nation WHERE r_regionkey <> n_regionkey
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join: bucket events.value against a generated
    bucket dim. The dim is broadcast → BroadcastNestedLoopJoin, the right
    physical plan for a 5-row build side; at scale the alternative is
    precomputing the bucket as a derived column (no join at all)."""
    e = load_table(spark, sf_dir, "events")
    buckets = spark.range(5).select(
        F.col("id").alias("bucket"),
        (F.col("id") * 100.0).alias("lo"),
        ((F.col("id") + 1) * 100.0).alias("hi"),
    )
    return (
        e.join(F.broadcast(buckets), (e.value >= buckets.lo) & (e.value < buckets.hi))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


_RANGE_JOIN_SQL = """
SELECT bucket, count(*) AS n_events, round(avg(value), 4) AS avg_value
FROM events e
JOIN (SELECT i AS bucket, i * 100.0 AS lo, (i + 1) * 100.0 AS hi
      FROM generate_series(0, 4) t(i)) b
  ON e.value >= b.lo AND e.value < b.hi
GROUP BY bucket
"""


_BANDED_N_IV = 40   # irregular, overlapping demo intervals
_BANDED_W = 50.0    # band width (events.value spans ~0..500)


def q_range_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for `range_join`: the same interval-containment
    semantics executed as a plain EQUI-join on fixed-width value bands
    (``operators.ranges.banded_range_join``) instead of a
    BroadcastNestedLoopJoin. The demo intervals are {n} irregular,
    OVERLAPPING spans (integer-exact endpoints), the shape where neither
    the BNLJ (O(rows·intervals)) nor a derived bucket column (regular
    grids only) survives a large interval table — think IP→geo blocks.
    Per interval: match count and mean value.

    Scale: each interval replicates onto span/width+1 bands (the caller's
    knob), facts band once; the join is a band-key equi-join — broadcast
    hash here, shuffle-hash with AQE skew-split when the banded interval
    table outgrows broadcast. The exact containment predicate after the
    band match makes the result identical to the definitional theta join,
    which is exactly what the oracle runs."""
    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    iv = spark.range(_BANDED_N_IV).select(
        F.col("id").alias("iv_id"),
        ((F.col("id") * 37) % 400).cast("double").alias("lo"),
        ((F.col("id") * 37) % 400 + 15 + (F.col("id") % 5) * 20)
        .cast("double")
        .alias("hi"),
    )
    j = banded_range_join(e, "value", iv, "lo", "hi", band_width=_BANDED_W)
    # avg in exact integer cents (events.value is 2-dp money data): the
    # BIGINT sum is order-independent and the single division of exact
    # integers is bit-identical on both engines — a float avg put a
    # group mean exactly on a 4-dp rounding boundary at sf0.001, where
    # 1 ulp of summation-order noise flips the digit (the
    # drift_psi_windowed lesson applied again)
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        j.groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(cents) / (F.lit(100.0) * F.count(F.lit(1))), 4
            ).alias("avg_value"),
        )
        .orderBy("iv_id")
    )


q_range_join_banded.__doc__ = q_range_join_banded.__doc__.format(n=_BANDED_N_IV)

_RANGE_JOIN_BANDED_SQL = f"""
SELECT iv_id, count(*) AS n_events,
       round(sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(*)), 4) AS avg_value
FROM events e
JOIN (SELECT i AS iv_id,
             CAST(i * 37 % 400 AS DOUBLE) AS lo,
             CAST(i * 37 % 400 + 15 + (i % 5) * 20 AS DOUBLE) AS hi
      FROM generate_series(0, {_BANDED_N_IV - 1}) t(i)) b
  ON e.value >= b.lo AND e.value < b.hi
GROUP BY iv_id
ORDER BY iv_id
"""


# --- aggregation surface ----------------------------------------------------


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full stat-agg surface: stddev/var (sample), min/max, exact distinct,
    exact median."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
    )


_AGG_STATS_SQL = """
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 4)  AS std_price,
       round(var_samp(l_quantity), 4)          AS var_qty,
       round(min(l_extendedprice), 2)          AS min_price,
       round(max(l_extendedprice), 2)          AS max_price,
       count(DISTINCT l_partkey)               AS n_parts,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nunique_approx(): HLL approximate distinct — the 100 TB path (exact
    distinct shuffles every key; the sketch shuffles ~KB per partition).
    Rows-only check: sketch estimates are engine-specific by nature."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the pre-aggregation pattern
    behind every 100 TB distinct dashboard: build one Datasketches HLL per
    order-priority partition (`hll_sketch_agg`, shuffles ~KB of sketch per
    group instead of every key), then `hll_union_agg` re-aggregates the
    stored sketches to the global estimate WITHOUT touching raw data again.
    A sketch table refreshed incrementally per partition answers any
    rollup of those partitions at interactive cost. Rows-only check:
    estimates are engine-specific (accuracy vs exact pinned in pytest)."""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).cast("long").alias(
            "approx_custs"
        ),
    )
    return (
        per_group.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("merged_custs"),
            F.sum("approx_custs").alias("sum_per_group"),
            F.count(F.lit(1)).alias("n_groups"),
        )
    )


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches (Datasketches KLL) — the quantile twin of
    `hll_sketch_union`: one KLL sketch per order-priority partition
    (`kll_sketch_agg_double`), merged with `kll_sketch_merge_double` into
    global p50/p90/p99 estimates without re-reading raw data. The pattern
    that makes percentile dashboards incremental at 100 TB (exact
    percentile re-sorts the world; the sketch shuffles ~KB per partition).
    Rows-only: KLL is a randomized sampler, estimates are engine- and
    seed-specific (accuracy vs exact pinned in pytest)."""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk")
    )
    # kll_sketch_merge_double is a binary scalar merge (no agg form): fold
    # the handful of per-partition sketches — O(groups) driver-side plan,
    # O(1) rows through the final stage
    sks = per_group.agg(F.collect_list("sk").alias("sks"))
    merged = sks.select(
        F.aggregate(
            F.slice("sks", 2, F.size("sks") - 1),
            F.element_at("sks", 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("sk")
    )
    return merged.select(
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)), 2).alias("p50_est"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.9)), 2).alias("p90_est"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.99)), 2).alias("p99_est"),
    )


def q_group_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP mergeable KLL quantiles — the grouped tier of the sketch
    family (`kll_quantiles` is the global fold; this is the shape a
    per-tenant / per-status latency dashboard actually runs). ONE
    map-side-combinable aggregation: `kll_sketch_agg_double` is an
    associative Datasketches aggregate, so each partition reduces its
    slice of every group to a ~KB sketch before the shuffle — per-group
    exact percentiles re-sort each group's world instead. Same groups and
    column as `percentiles` (exact), so the accuracy pytest compares the
    two directly at matched rank tolerance.

    Rows-only by contract: KLL is a randomized sampler; estimates are
    engine- and seed-specific (no SQL oracle can reproduce them)."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_linestatus").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return g.select(
        "l_linestatus",
        "n_rows",
        F.round(
            F.kll_sketch_get_quantile_double("sk", F.lit(0.5)), 2
        ).alias("p50_est"),
        F.round(
            F.kll_sketch_get_quantile_double("sk", F.lit(0.9)), 2
        ).alias("p90_est"),
        F.round(
            F.kll_sketch_get_quantile_double("sk", F.lit(0.99)), 2
        ).alias("p99_est"),
    )


def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (`eqNullSafe` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantic corner plain `=`
    joins silently drop. Built here by nulling out the '1-URGENT' priority
    on both sides; still a hash-joinable equi-key (<=> compiles to the same
    exchange as `=`, no nested loop)."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio_n"),
    )
    counts = keyed.groupBy("prio_n").agg(F.count(F.lit(1)).alias("n_orders"))
    k, c = keyed.alias("k"), counts.alias("c")
    return (
        k.join(c, F.col("k.prio_n").eqNullSafe(F.col("c.prio_n")), "inner")
        .where(F.col("k.o_orderkey") < 5000)
        .select(
            F.col("k.o_orderkey").alias("o_orderkey"),
            F.col("c.prio_n").alias("prio_n"),
            F.col("c.n_orders").alias("n_orders"),
        )
    )


_NULLSAFE_JOIN_SQL = """
WITH keyed AS (
  SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS prio_n FROM orders
),
counts AS (
  SELECT prio_n, count(*) AS n_orders FROM keyed GROUP BY prio_n
)
SELECT k.o_orderkey, c.prio_n, c.n_orders
FROM keyed k JOIN counts c ON k.prio_n IS NOT DISTINCT FROM c.prio_n
WHERE k.o_orderkey < 5000
"""


_FUZZY_MOD = 7  # profile the c_custkey % 7 == 0 slice (SF-proportional)
_FUZZY_K = 2    # edit-distance threshold


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string self-join (typo/record-linkage tier): all customer
    pairs whose names are within levenshtein distance {k}, over the
    ``c_custkey % {m} == 0`` slice. The Spark side is
    ``operators.fuzzy.edit_distance_join`` — PassJoin pigeonhole segment
    blocking (Li/Deng/Feng, PVLDB 5(3) 2011): an equi-join on
    ``(segment_index, segment_text, length)`` whose candidate set provably
    contains every true pair, then an exact levenshtein verify. Because the
    blocking is LOSSLESS the result is exact, so the oracle below is the
    definitional all-pairs form — the two engines agree by theorem, not by
    sharing a heuristic.

    Scale: one shuffle on segment block keys (never all-pairs; the oracle's
    quadratic form is the toy-scale definition only); candidates per string
    are O(k^2); AQE skew splitting applies to hot shared-prefix blocks."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % _FUZZY_MOD == 0
    )
    return edit_distance_join(c, "c_custkey", "c_name", k=_FUZZY_K)


q_fuzzy_join.__doc__ = q_fuzzy_join.__doc__.format(k=_FUZZY_K, m=_FUZZY_MOD)

_FUZZY_JOIN_SQL = f"""
WITH s AS (
  SELECT c_custkey AS id, c_name AS nm FROM customer
  WHERE c_custkey % {_FUZZY_MOD} = 0 AND length(c_name) > {_FUZZY_K}
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
FROM s a JOIN s b
  ON a.id < b.id AND abs(length(a.nm) - length(b.nm)) <= {_FUZZY_K}
WHERE levenshtein(a.nm, b.nm) <= {_FUZZY_K}
"""


_FUZZY_CANON_MOD = 11  # canonical-list slice for the lookup demo


def q_fuzzy_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table record linkage — the dedupe-against-master-list use the
    self-join can't express: every DIRTY query name (c_custkey % {qm}
    slice) matched against a CANONICAL list (% {cm} slice) within
    levenshtein distance {k}, via the same lossless pigeonhole blocking
    asymmetrically (canon emits k+1 segments, queries emit O(k²) shifted
    substrings). Exact by the same theorem, so the oracle is the
    definitional cross form.

    Scale: one shuffle on block keys — never |queries|×|canon|; the canon
    side carries only k+1 rows per string, so a small master list stays
    broadcastable even after segmenting."""
    c = load_table(spark, sf_dir, "customer")
    q = c.filter(F.col("c_custkey") % _FUZZY_MOD == 0)
    canon = c.filter(F.col("c_custkey") % _FUZZY_CANON_MOD == 0)
    return edit_distance_lookup(
        q, "c_custkey", "c_name", canon, "c_custkey", "c_name", k=_FUZZY_K
    )


q_fuzzy_lookup.__doc__ = q_fuzzy_lookup.__doc__.format(
    qm=_FUZZY_MOD, cm=_FUZZY_CANON_MOD, k=_FUZZY_K
)

_FUZZY_LOOKUP_SQL = f"""
WITH q AS (
  SELECT c_custkey AS id, c_name AS nm FROM customer
  WHERE c_custkey % {_FUZZY_MOD} = 0 AND length(c_name) > {_FUZZY_K}
),
c AS (
  SELECT c_custkey AS id, c_name AS nm FROM customer
  WHERE c_custkey % {_FUZZY_CANON_MOD} = 0 AND length(c_name) > {_FUZZY_K}
)
SELECT q.id AS query_id, c.id AS canon_id,
       CAST(levenshtein(q.nm, c.nm) AS INTEGER) AS dist
FROM q JOIN c ON abs(length(q.nm) - length(c.nm)) <= {_FUZZY_K}
WHERE levenshtein(q.nm, c.nm) <= {_FUZZY_K}
"""


def q_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — the composition a record-linkage
    pipeline actually ships: PassJoin edit-distance pairs (`fuzzy_join`'s
    operator) collapsed into connected components, so every typo-variant
    family gets one canonical id (the min reachable c_custkey). The same
    pairs→clusters step `dedup_clusters` runs on n-gram Jaccard edges,
    here on SEQUENCE-similarity edges — together they close the loop from
    "which strings look alike" to "which rows are the same entity".

    Scale: the pair tier is the lossless pigeonhole blocking (one segment
    shuffle, never all-pairs); the collapse is min-label propagation with
    O(diameter) rounds, checkpointed per round (operators.dedup
    .connected_components). Oracle: DuckDB recursive CTE computing the
    same min-reachable id over definitional all-pairs edges."""
    from ..operators.dedup import connected_components

    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % _FUZZY_MOD == 0
    )
    pairs = edit_distance_join(c, "c_custkey", "c_name", k=_FUZZY_K)
    cc = connected_components(pairs.select("id_a", "id_b"))
    return cc.select(F.col("id").alias("c_custkey"), "cluster_id").orderBy(
        "c_custkey"
    )


_FUZZY_CLUSTERS_SQL = f"""
WITH RECURSIVE
s AS (
  SELECT c_custkey AS id, c_name AS nm FROM customer
  WHERE c_custkey % {_FUZZY_MOD} = 0 AND length(c_name) > {_FUZZY_K}
),
edges AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM s a JOIN s b
    ON a.id < b.id AND abs(length(a.nm) - length(b.nm)) <= {_FUZZY_K}
  WHERE levenshtein(a.nm, b.nm) <= {_FUZZY_K}
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM edges
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM edges
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT sy.a, reach.r FROM sym sy JOIN reach ON sy.b = reach.id
)
SELECT id AS c_custkey, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY id
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (dask uses t-digest approx; hash-checked
    queries use the exact variant per SURVEY.md §5)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
    )


_PERCENTILES_SQL = """
SELECT l_linestatus,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4)  AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_linestatus
"""


# modified z-score (Iglewicz & Hoaglin 1993): flag when
# 0.6745 * |x - median| / MAD > 3.5
_MAD_C = 0.6745
_MAD_CUT = 3.5


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly detection — median/MAD outlier scoring of
    ``events.value`` by event_type (Iglewicz & Hoaglin's modified z-score:
    flag when ``{c} * |x - med| / MAD > {cut}``). Mean/stddev scoring is
    itself corrupted by the outliers it hunts; median and MAD (median
    absolute deviation) have a 50% breakdown point, which is why production
    data-quality monitors use exactly this statistic. Per group: n, median,
    MAD, outlier count + share, and the most extreme modified z-score.

    The flag comparison is kept in product form (``{c}·dev > {cut}·MAD``) so
    a zero-MAD group (>=50% identical values) needs no division guard: any
    positive deviation flags, the definitional limit. ``max_score`` alone
    divides and is NULL for such groups (oracle: nullif).

    Scale: two exact-percentile groupBys over events (the shuffle carries
    rows — at 100 TB swap ``F.percentile`` for ``approx_percentile``, which
    partial-aggregates map-side; the exact tier is the oracle-checked
    definition, the repo's percentiles/distinct_approx precedent) with the
    O(groups) median/MAD tables BROADCAST back — the corpus itself never
    joins corpus-sized state; final pass is one conditional agg."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    # med and mad are O(groups) — checkpoint each so the two downstream
    # consumers read the tiny table instead of re-running its corpus agg
    # (drift-family convention; keeps the corpus at 3 scans total)
    med = (
        e.groupBy("event_type")
        .agg(F.percentile("value", F.lit(0.5)).alias("med"))
        .localCheckpoint(eager=True)
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
        .localCheckpoint(eager=True)
    )
    scored = dev.join(F.broadcast(mad), "event_type")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.first("med"), 4).alias("med"),
        F.round(F.first("mad"), 4).alias("mad"),
        F.sum(
            (F.lit(_MAD_C) * F.col("dev") > F.lit(_MAD_CUT) * F.col("mad")).cast(
                "bigint"
            )
        ).alias("n_outliers"),
        F.round(
            F.sum(
                (
                    F.lit(_MAD_C) * F.col("dev") > F.lit(_MAD_CUT) * F.col("mad")
                ).cast("bigint")
            )
            / F.count(F.lit(1)),
            6,
        ).alias("outlier_share"),
        F.round(
            F.lit(_MAD_C)
            * F.max("dev")
            / F.when(F.first("mad") > 0, F.first("mad")),
            4,
        ).alias("max_score"),
    )


q_outlier_mad.__doc__ = q_outlier_mad.__doc__.format(c=_MAD_C, cut=_MAD_CUT)

_OUTLIER_MAD_SQL = f"""
WITH med AS (
  -- med0, not med: the OUTPUT column med carries the '+ 0.0' -0.0
  -- normalization and the registry lint checks every `AS med` site,
  -- so the raw intermediate keeps a distinct name (r16 slot fix)
  SELECT event_type, quantile_cont(value, 0.5) AS med0
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, m.med0, abs(e.value - m.med0) AS dev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(dev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n,
       round(max(d.med0), 4) + 0.0 AS med,
       round(max(m.mad), 4) AS mad,
       CAST(sum(CASE WHEN {_MAD_C} * d.dev > {_MAD_CUT} * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(sum(CASE WHEN {_MAD_C} * d.dev > {_MAD_CUT} * m.mad THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS outlier_share,
       round({_MAD_C} * max(d.dev) / nullif(max(m.mad), 0), 4) AS max_score
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


def q_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.corr()/cov() surface."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("corr_disc_tax"),
    )


_CORR_COV_SQL = """
-- + 0.0: corr/covar are negative-capable; a tiny-negative value must not
-- round to -0.0 (DuckDB keeps the sign, Spark's BigDecimal drops it)
SELECT round(corr(l_quantity, l_extendedprice), 6) + 0.0       AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 2) + 0.0 AS cov_qty_price,
       round(corr(l_discount, l_tax), 6) + 0.0                 AS corr_disc_tax
FROM lineitem
"""


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (bonus capability beyond the dask surface)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_CUBE_AGG_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the generalization cube/rollup compile to:
    exactly the requested aggregation levels ((flag,status), (flag), ())
    in ONE scan with one Expand, instead of a union of three scans.
    `grouping_id` disambiguates NULL-as-total from NULL data."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


# --- windows ----------------------------------------------------------------


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number + rank (nlargest-per-group)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rn") <= 3)
    )


_WINDOW_RANK_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
         rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rn <= 3
"""


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shift(): previous/next order totals per customer."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_total"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_total"),
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta"),
    )


_LAG_LEAD_SQL = """
SELECT o_custkey, o_orderkey,
       round(lag(o_totalprice)  OVER w, 2) AS prev_total,
       round(lead(o_totalprice) OVER w, 2) AS next_total,
       round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling(window=4).mean() per supplier over ship order; rows-frame window
    streams within each partition — no per-key materialization at scale.

    The ORDER BY must be a TOTAL order for a ROWS frame to be deterministic:
    the synthetic lineitem duplicates (l_orderkey, l_linenumber) — unlike
    real TPC-H — and at sf0.1 one (suppkey, shipdate, orderkey, linenumber)
    collision made frame membership run-to-run nondeterministic (caught by
    the r3 sf0.1 stress gate). l_extendedprice as the final key makes any
    remaining ties interchangeable rows, so every frame sum is stable."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(-3, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.avg("l_extendedprice").over(w), 4).alias("rolling_avg_price"),
    )


_ROLLING_AVG_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(avg(l_extendedprice) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS rolling_avg_price
FROM lineitem
"""


def q_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cumsum() per customer in order-date order."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_spend"),
    )


_CUMSUM_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend
FROM orders
"""


def q_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank analytic surface."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


_NTILE_PERCENT_SQL = """
SELECT o_orderpriority, o_orderkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


# --- scalar functions (string / json) --------------------------------------


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family over customer names."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).cast("bigint").alias("cust_num"),
        F.expr("right(c_name, 3)").alias("tail3"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_tag"
        ),
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000000")).alias("lev0"),
    )


_STRING_FUNCS_SQL = r"""
SELECT c_custkey,
       upper(c_name) AS name_upper,
       CAST(regexp_extract(c_name, 'Customer#(\d+)', 1) AS BIGINT) AS cust_num,
       right(c_name, 3) AS tail3,
       CAST(length(c_name) AS INTEGER) AS name_len,
       concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_tag,
       CAST(levenshtein(c_name, 'Customer#000000000') AS INTEGER) AS lev0
FROM customer WHERE c_custkey < 100
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string parsing (dask.bag json.loads surface → from_json)."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.withColumn("k_val", F.from_json("props", "k INT")["k"])
    return parsed.groupBy("event_type").agg(
        F.round(F.avg("k_val"), 4).alias("avg_k"),
        F.count("k_val").alias("n_with_k"),
    )


_JSON_EXTRACT_SQL = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       count(CAST(json_extract_string(props, '$.k') AS INTEGER))         AS n_with_k
FROM events GROUP BY event_type
"""


def q_describe_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas/dask ``df.describe()`` analog (SURVEY §2.4): per-column count /
    mean / stddev / min / max over the lineitem numerics, one row per column.

    Implemented as a single-pass multi-aggregate (one partial+final hash agg;
    the shuffle payload is exactly one row of 20 scalars) followed by a
    ``stack`` unpivot — NOT Spark's built-in ``df.describe()``, which casts
    every statistic to string and would break typed schema checks. One scan,
    one shuffle, regardless of row count: scale-safe at any SF."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}_count"),
            F.round(F.avg(c), 4).alias(f"{c}_mean"),
            F.round(F.stddev(c), 4).alias(f"{c}_std"),
            F.round(F.min(c), 2).alias(f"{c}_min"),
            F.round(F.max(c), 2).alias(f"{c}_max"),
        ]
    row = li.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}_count, {c}_mean, {c}_std, {c}_min, {c}_max" for c in cols
    )
    return row.select(
        F.expr(
            f"stack({len(cols)}, {stacked})"
            " AS (col_name, n_count, mean, std, min_val, max_val)"
        )
    )


_DESCRIBE_SUMMARY_SQL = """
SELECT 'l_quantity' AS col_name, count(l_quantity) AS n_count,
       round(avg(l_quantity), 4) AS mean, round(stddev(l_quantity), 4) AS std,
       round(min(l_quantity), 2) AS min_val, round(max(l_quantity), 2) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(l_extendedprice),
       round(avg(l_extendedprice), 4), round(stddev(l_extendedprice), 4),
       round(min(l_extendedprice), 2), round(max(l_extendedprice), 2)
FROM lineitem
UNION ALL
SELECT 'l_discount', count(l_discount),
       round(avg(l_discount), 4), round(stddev(l_discount), 4),
       round(min(l_discount), 2), round(max(l_discount), 2)
FROM lineitem
UNION ALL
SELECT 'l_tax', count(l_tax),
       round(avg(l_tax), 4), round(stddev(l_tax), 4),
       round(min(l_tax), 2), round(max(l_tax), 2)
FROM lineitem
"""


_MELT_MOD = 997  # sample: one order family per ~1000 (output stays bounded)


def q_melt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (pandas/dask ``melt``) as a FIRST-CLASS op via
    Spark's native ``DataFrame.unpivot`` (Spark 3.4+; the Catalyst Expand
    operator — one narrow pass, each input row fans out to one row per
    value column, no shuffle, no UDF): four lineitem metrics go long as
    (keys…, metric, value). The inverse of ``pivot_daily``; the explicit
    surface ``describe_summary`` only uses internally (via ``stack``).

    Scale: Expand multiplies rows by len(value_cols) in the SAME task —
    the reshape never exchanges; the caller's sample predicate (pushed to
    the parquet scan) is the output-volume lever."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % _MELT_MOD == 0
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    ).select(
        "l_orderkey", "l_linenumber", "metric", F.round("value", 2).alias("value")
    )


_MELT_SQL = f"""
WITH s AS (SELECT * FROM lineitem WHERE l_orderkey % {_MELT_MOD} = 0)
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
       round(CAST(l_quantity AS DOUBLE), 2) AS value FROM s
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice',
       round(CAST(l_extendedprice AS DOUBLE), 2) FROM s
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount',
       round(CAST(l_discount AS DOUBLE), 2) FROM s
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax',
       round(CAST(l_tax AS DOUBLE), 2) FROM s
"""


_PR_ITERS = 5


def _trade_lines(spark: SparkSession, sf_dir: str, *extra: Column) -> DataFrame:
    """The supplier–customer trade graph's raw rows ``(c, s, *extra)``, one
    per lineitem ⋈ order: customer ``o_custkey``, supplier ``l_suppkey``,
    and each ``extra`` (an aliased lineitem expression, computed before the
    join)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", *extra)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"), *li.columns[2:]
    )


def _trade_pairs(spark: SparkSession, sf_dir: str, count: str | None = None) -> DataFrame:
    """The trade graph's pairs ``(a, b)``: supplier ``s*2`` and customer
    ``c*2+1`` of ``_trade_lines``. Distinct pairs by default; with
    ``count``, one row per pair carrying its number of lineitems in that
    column."""
    j = _trade_lines(spark, sf_dir)
    a = (F.col("s") * 2).alias("a")
    b = (F.col("c") * 2 + 1).alias("b")
    if count is None:
        return j.select(a, b).distinct()
    return j.groupBy(a, b).agg(F.count(F.lit(1)).alias(count))


def _symmetrize(pairs: DataFrame, *carry: str) -> DataFrame:
    """Both directions of every pair: ``(src, dst, *carry)`` from ``(a, b)``
    and from ``(b, a)``."""
    return pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"), *carry).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), *carry)
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier↔customer trade graph — the iterative
    influence/centrality op completing the graph tier (connected components
    = cluster membership; this = node importance, the signal a crawl
    pipeline ranks domains/hosts with). Nodes are suppliers (suppkey*2) and
    customers (custkey*2+1); an undirected edge links every
    supplier–customer pair that shares a lineitem, symmetrized so every
    node has out-degree >= 1 (no dangling mass). {it} fixed-point
    iterations in integer micro-units (``operators.graph.pagerank``) —
    BIGINT adds and floor divs only, so the chained-CTE DuckDB oracle is
    bit-identical BY CONSTRUCTION: no float summation-order noise can
    accumulate across iterations.

    Scale: the Pregel-style plan — the edge derivation (lineitem⋈orders,
    distinct, union) runs once, into the checkpointed edge list;
    out-degrees ride on the O(nodes) rank table; each iteration ONE hash
    join edges⋈ranks on src (broadcast while N fits the broadcast
    threshold — see ``operators.graph.pagerank``) + ONE map-side-combined
    groupBy(dst) sum; localCheckpoint per round truncates lineage
    (connected_components precedent); driver state = one scalar (N)."""
    edges = _symmetrize(_trade_pairs(spark, sf_dir))
    r = pagerank(edges, iters=_PR_ITERS)
    return r.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        "rank_micro",
    )


q_pagerank.__doc__ = q_pagerank.__doc__.format(it=_PR_ITERS)

_PR_PAIRS = """SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""
_PR_EDGES_SQL = f"""SELECT a AS src, b AS dst FROM ({_PR_PAIRS}) p1
UNION ALL
SELECT b AS src, a AS dst FROM ({_PR_PAIRS}) p2"""

_PAGERANK_SQL = pagerank_oracle_cte(
    _PR_EDGES_SQL,
    iters=_PR_ITERS,
    select_sql=(
        "SELECT id, CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END"
        f" AS node_type, rank_micro FROM r{_PR_ITERS}"
    ),
)


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank — importance by trade VOLUME, not link existence:
    each supplier↔customer edge carries the number of lineitems connecting
    them, and a node's rank mass splits proportionally to edge weight
    (``contrib = (r·w) div W_src``). The heavy_domains lesson applied to
    the graph tier: at corpus scale the realer signal is almost always the
    weighted one (a supplier shipping 10,000 lines to one customer matters
    more than ten one-line relationships). Still pure BIGINT adds + floor
    divs — the weighted update keeps the unweighted tier's bit-exactness
    across engines and partitionings.

    Scale: identical plan to `pagerank` (the weight rides the checkpointed
    edge list; W_src is one extra sum in the same deg agg)."""
    edges = _symmetrize(_trade_pairs(spark, sf_dir, count="w"), "w")
    r = pagerank(edges, iters=_PR_ITERS, weight_col="w")
    return r.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        "rank_micro",
    )


_PRW_PAIRS = """SELECT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2"""
_PRW_EDGES_SQL = f"""SELECT a AS src, b AS dst, w FROM ({_PRW_PAIRS}) p1
UNION ALL
SELECT b AS src, a AS dst, w FROM ({_PRW_PAIRS}) p2"""

_PAGERANK_WEIGHTED_SQL = pagerank_oracle_cte(
    _PRW_EDGES_SQL,
    iters=_PR_ITERS,
    weighted=True,
    select_sql=(
        "SELECT id, CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END"
        f" AS node_type, rank_micro FROM r{_PR_ITERS}"
    ),
)


_TRI_ORDER_MOD = 10  # demo subset: every 10th order (the vec_id % 29 pattern)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph — the canonical
    "join that explodes if you let it" graph analytic (clustering
    coefficient, community density, spam-graph signals). Nodes are parts;
    an undirected edge links two parts bought in the SAME order (every
    10th order — the demo-subset pattern); output = the top 20 parts by
    triangle participation (ties broken by part key — a deterministic
    total order).

    Scale: degree-ordered node-iterator (Suri & Vassilvitskii, WWW 2011) —
    the orientation bounds every node's out-degree by O(sqrt(m)), so the
    wedge join cannot melt a reducer under a hub (the "curse of the last
    reducer" is the whole paper). Two equi-joins + one explode/groupBy,
    no BNLJ, nothing corpus-sized broadcast; exact, so the oracle is the
    identical SQL. See operators/graph.py:triangle_counts."""
    from ..operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % _TRI_ORDER_MOD == 0
    )
    pairs = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a"))
        .join(
            li.select(
                F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("b")
            ),
            "ok",
        )
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return (
        triangle_counts(pairs)
        .orderBy(F.col("n_triangles").desc(), F.col("id"))
        .limit(20)
        .select(F.col("id").alias("part_key"), "n_triangles")
    )


def _triangle_sql() -> str:
    from ..operators.graph import triangle_counts_oracle_sql

    pairs = f"""SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_orderkey % {_TRI_ORDER_MOD} = 0 AND x.l_partkey < y.l_partkey"""
    return triangle_counts_oracle_sql(
        pairs,
        final_sql=(
            "SELECT id AS part_key, n_triangles FROM cnt "
            "ORDER BY n_triangles DESC, id LIMIT 20"
        ),
    )


# Benford expected first-digit shares, log10(1 + 1/d) pre-rendered to 6dp
# IN PYTHON so neither engine's log implementation is on the comparison
# path (the literal text is shared verbatim with the oracle)
_BENFORD = {
    1: "0.301030", 2: "0.176091", 3: "0.124939", 4: "0.096910",
    5: "0.079181", 6: "0.066947", 7: "0.057992", 8: "0.051153",
    9: "0.045757",
}


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fraud/synthetic-data screen (Benford 1938; Nigrini's forensic
    accounting use): natural multi-scale money data follows
    P(d) = log10(1 + 1/d), and a corpus whose leading digits deviate is a
    generated/corrupted-data signal — a data-ops quality gate next to the
    drift family. Output per digit 1-9: exact count, observed share, and
    the Benford expectation (injected as a 6-dp literal in BOTH engines,
    so no log() is ever compared).

    Exactness: the digit is extracted from the CENTS STRING (substr of a
    BIGINT's decimal rendering — no float log10 on the extraction path);
    counts are exact; share is ONE division + round. One scan, one 9-row
    hash agg; the share's total rides a bounded 9-row window
    (allowlisted, the zipf_curve precedent)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    d = o.select(cents.alias("c")).where(F.col("c") > 0).select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()  # 9 rows — bounded by construction
    expected = F.element_at(
        F.create_map(
            *[x for k, v in sorted(_BENFORD.items()) for x in (F.lit(k), F.lit(float(v)))]
        ),
        F.col("digit"),
    )
    return counts.select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.sum("n").over(total), 6).alias("share"),
        expected.alias("benford_expected"),
    )


def _benford_sql() -> str:
    case = " ".join(
        f"WHEN {k} THEN {v}" for k, v in sorted(_BENFORD.items())
    )
    return f"""
WITH d AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders)
  WHERE c > 0
),
counts AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n / sum(n) OVER (), 6) AS share,
       CASE digit {case} END AS benford_expected
FROM counts
"""


def q_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance — the lakehouse companion to
    ``apply_cdc``: a materialized per-priority aggregate (count, cents
    sum) is brought up to date by merging the BASE aggregate with a
    signed DELTA aggregate from the changelog (+1 insert, -1 delete,
    update = delete+insert pair) — the view never re-reads the snapshot.
    The changelog is derived deterministically from orders so every
    branch fires at every SF: inserts (keys %13==0), deletes (base keys
    %9==0), updates (+100.00 on surviving %11==0 keys).

    THE CHECK IS THE POINT: Spark runs the base+delta MERGE; the oracle
    recomputes the aggregate DIRECTLY over the post-change snapshot —
    equality proves the incremental path equals the full recompute
    (count/sum are self-maintainable aggregates; Gupta & Mumick's IVM
    survey, SIGMOD Record 1995). Exact integer cents throughout; groups
    whose merged count reaches 0 are dropped on both sides.

    Scale: the delta branches re-scan orders here because the demo
    DERIVES its changelog (a real changelog is one small source — the
    apply_cdc posture); the merge itself is two group-sized aggs + ONE
    hash full-outer join on the group key. The corpus-sized snapshot is
    touched once for the base aggregate and never again — that is the
    entire point of IVM at 100 TB."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    base = o.where(F.col("k") % 13 != 0)
    base_agg = base.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    sgn = lambda x: F.lit(x).cast("bigint")  # noqa: E731
    ins = o.where(F.col("k") % 13 == 0).select(
        "prio", sgn(1).alias("sign"), "cents"
    )
    dels = base.where(F.col("k") % 9 == 0).select(
        "prio", sgn(-1).alias("sign"), "cents"
    )
    upd = base.where((F.col("k") % 9 != 0) & (F.col("k") % 11 == 0))
    upd_old = upd.select("prio", sgn(-1).alias("sign"), "cents")
    upd_new = upd.select(
        "prio", sgn(1).alias("sign"), (F.col("cents") + 10000).alias("cents")
    )
    delta = ins.unionByName(dels).unionByName(upd_old).unionByName(upd_new)
    delta_agg = delta.groupBy("prio").agg(
        F.sum("sign").cast("bigint").alias("dn"),
        F.sum(F.col("sign") * F.col("cents")).cast("bigint").alias("ds"),
    )
    return (
        base_agg.join(delta_agg, "prio", "full_outer")
        .select(
            F.col("prio").alias("o_orderpriority"),
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("bigint")
            .alias("n_orders"),
            (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0)))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .where(F.col("n_orders") != 0)
    )


# oracle: the DIRECT recompute over the post-change snapshot — a different
# algorithm from the Spark side's base+delta merge, which is the check
_IVM_AGG_SQL = """
WITH snap2 AS (
  SELECT o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT)
           + CASE WHEN o_orderkey % 13 <> 0 AND o_orderkey % 9 <> 0
                       AND o_orderkey % 11 = 0
                  THEN 10000 ELSE 0 END AS cents
  FROM orders
  WHERE o_orderkey % 13 = 0
     OR (o_orderkey % 13 <> 0 AND o_orderkey % 9 <> 0)
)
SELECT prio AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snap2 GROUP BY prio
"""


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D skyline (Pareto frontier, Börzsönyi ICDE'01): the
    parts where no same-brand part is both cheaper-or-equal and
    larger-or-equal with one strict edge (minimize retail price, maximize
    size) — the "best tradeoffs" shortlist query behind product search,
    candidate pruning, and multi-objective config tuning.

    Exactness: price in integer cents (the events-money pattern), size
    already integer, and the output is a SET fully determined by the
    dominance predicate — no tie-break, no rounding anywhere. The oracle
    runs the DEFINITIONAL quadratic NOT-EXISTS form; the Spark plan is the
    O(n log n) two-window sweep (operators/skyline.py) — agreement checks
    semantics across genuinely different algorithms.

    Scale: two brand-partitioned windows + one filter; no join, no
    explode, nothing broadcast. The quadratic form the oracle runs is
    exactly what this operator exists to avoid at 100 TB."""
    from ..operators.skyline import pareto_front_2d

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        F.col("p_size").cast("int").alias("p_size"),
    )
    return pareto_front_2d(p, ["p_brand"], "price_cents", "p_size")


def _skyline_sql() -> str:
    from ..operators.skyline import pareto_oracle_sql

    src = """SELECT p_partkey, p_brand AS g,
    CAST(round(p_retailprice * 100) AS BIGINT) AS x,
    CAST(p_size AS INTEGER) AS y
  FROM part"""
    return pareto_oracle_sql(
        src,
        "SELECT a.p_partkey, a.g AS p_brand, a.x AS price_cents, a.y AS p_size",
    )


_BFS_HOPS = 3
_BFS_SEED_NATION = 3  # present at ALL fixture SFs (sf0.001 has 10 nations)


def q_reachable_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS to depth {h} over the supplier↔customer trade
    graph: every node within {h} hops of nation-{n} suppliers, with its
    minimum hop count — the reachability / blast-radius question
    (supply-chain exposure, crawl frontier expansion, contamination
    spread) completing the graph tier beside components (membership),
    pagerank (importance), and triangles (density).

    Exact by construction — hop levels are set membership, no arithmetic
    — so the chained-CTE DuckDB oracle matches exactly. Scale: per hop
    ONE frontier⋈edges hash join + distinct + ONE anti-join vs visited,
    checkpointed per round (operators/graph.bfs_hops); the edge list is
    checkpointed once and re-read per hop."""
    edges = _symmetrize(_trade_pairs(spark, sf_dir))
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == _BFS_SEED_NATION)
        .select((F.col("s_suppkey") * 2).alias("id"))
    )
    v = bfs_hops(edges, seeds, max_hops=_BFS_HOPS)
    return v.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        "hops",
    )


q_reachable_nodes.__doc__ = q_reachable_nodes.__doc__.format(
    h=_BFS_HOPS, n=_BFS_SEED_NATION
)

_BFS_SEEDS_SQL = f"""SELECT s_suppkey * 2 AS id FROM supplier
  WHERE s_nationkey = {_BFS_SEED_NATION}"""

_REACHABLE_SQL = bfs_oracle_cte(
    _PR_EDGES_SQL,
    _BFS_SEEDS_SQL,
    max_hops=_BFS_HOPS,
    select_sql=(
        "SELECT id, CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END"
        f" AS node_type, hops FROM v{_BFS_HOPS}"
    ),
)


_SSSP_ROUNDS = 3


def q_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round shortest-path costs over the weighted trade graph —
    Bellman-Ford relaxation for {r} rounds from nation-{n} suppliers
    (operators/graph.sssp_bounded): each supplier↔customer edge costs
    ``1000000 div n_trades`` (stronger trade relationships are cheaper
    to traverse), and the answer is each node's exact minimum cost using
    at most {r} edges — the WEIGHTED completion of ``reachable_nodes``
    (whose hop counts are this query with unit weights), closing the
    graph tier's question set: membership, importance, density, reach,
    cost.

    Exactness: weights, path sums, and mins are pure BIGINT (the edge
    weight is one exact integer division), so the chained-CTE oracle —
    one relax-and-min CTE per round, min-agg NOT path enumeration, the
    bfs/pagerank oracle pattern — is bit-identical by construction.

    Scale: per round ONE dist⋈edges hash join + one map-side-combinable
    min-groupBy, checkpointed per round; distances carry (id, cost)
    longs only, never paths. Same Pregel discipline as pagerank/bfs."""
    pairs = _trade_pairs(spark, sf_dir, count="n").select(
        "a", "b", F.expr("1000000 div n").alias("w")
    )
    edges = _symmetrize(pairs, "w")
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == _BFS_SEED_NATION)
        .select((F.col("s_suppkey") * 2).alias("id"))
    )
    d = sssp_bounded(edges, seeds, rounds=_SSSP_ROUNDS)
    return d.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        F.col("cost").cast("bigint").alias("min_cost"),
    )


q_sssp_bounded.__doc__ = q_sssp_bounded.__doc__.format(
    r=_SSSP_ROUNDS, n=_BFS_SEED_NATION
)

_SSSP_EDGES_SQL = """SELECT src, dst, w FROM (
  SELECT a, b, 1000000 // n AS w FROM (
    SELECT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
  )
) p, (SELECT 1 AS fwd UNION ALL SELECT 0) dirs(fwd),
LATERAL (SELECT CASE WHEN fwd = 1 THEN a ELSE b END AS src,
                CASE WHEN fwd = 1 THEN b ELSE a END AS dst) s"""

_SSSP_SQL = sssp_oracle_cte(
    _SSSP_EDGES_SQL,
    _BFS_SEEDS_SQL,
    rounds=_SSSP_ROUNDS,
    select_sql=(
        "SELECT id, CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END"
        f" AS node_type, CAST(cost AS BIGINT) AS min_cost FROM d{_SSSP_ROUNDS}"
    ),
)


_KCORE_K = 8
_KCORE_ROUNDS = 3


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel of the trade graph — {r} rounds of "drop
    nodes with fewer than {k} distinct trade partners" over the
    supplier↔customer graph (operators/graph.kcore_peel): the surviving
    dense backbone with residual degrees. Completes the graph tier's
    density axis (triangle_count: local closure; THIS: the global dense
    core — the subgraph where supply-chain risk or promotion effort
    concentrates).

    Exactness: set membership + integer degrees, no arithmetic at all —
    the chained-CTE oracle (one degree+filter pair per round, the
    sssp/bfs pattern) is identical by construction. The round bound is
    part of the semantics (truncated peel; the fixpoint is Seidman's
    k-core), matching the bfs_hops honesty model.

    Scale: per round one map-side-combined degree groupBy + two
    semi-joins against the O(survivors) keep set, checkpointed; the
    edge set only shrinks, so post-convergence rounds are no-ops."""
    edges = _symmetrize(_trade_pairs(spark, sf_dir))
    core = kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return core.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        "deg",
    )


q_kcore_peel.__doc__ = q_kcore_peel.__doc__.format(r=_KCORE_ROUNDS, k=_KCORE_K)

_KCORE_SQL = kcore_oracle_cte(
    _PR_EDGES_SQL,
    k=_KCORE_K,
    rounds=_KCORE_ROUNDS,
    select_sql=(
        "SELECT src AS id, CASE WHEN src % 2 = 0 THEN 'supplier' ELSE"
        " 'customer' END AS node_type, CAST(count(*) AS BIGINT) AS deg"
        f" FROM e{_KCORE_ROUNDS} GROUP BY src"
    ),
)


_LPA_ROUNDS = 3


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection over the trade graph —
    {r} synchronous LPA rounds (operators/graph.label_propagation),
    rolled up to one row per detected community: size and its
    supplier/customer split. Completes the graph tier's clustering
    axis (dedup_clusters: exact connectivity; kcore_peel: density;
    THIS: modularity-style grouping — the fraud-ring / market-cluster
    readout).

    Determinism: most-frequent-neighbor-label with smallest-label
    tie-break is pure integer arithmetic; the bipartite-oscillation
    hazard of synchronous LPA is damped the standard way — SELF-LOOPS
    (each node's own previous label votes once), added on both engine
    sides identically. Community names are member node ids, so the
    rollup keys are engine-independent.

    Scale: per round one edges⋈labels hash join + two map-side
    aggs, checkpointed (the Pregel discipline); the final rollup is
    communities-sized."""
    pairs = _trade_pairs(spark, sf_dir)
    sym = _symmetrize(pairs)
    selfs = (
        pairs.select(F.col("a").alias("src"))
        .unionByName(pairs.select(F.col("b").alias("src")))
        .distinct()
        .select("src", F.col("src").alias("dst"))
    )
    labels = label_propagation(sym.unionByName(selfs), rounds=_LPA_ROUNDS)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum((F.col("id") % 2 == 0).cast("long"))
        .cast("bigint")
        .alias("n_suppliers"),
        F.sum((F.col("id") % 2 == 1).cast("long"))
        .cast("bigint")
        .alias("n_customers"),
    )


q_lpa_communities.__doc__ = q_lpa_communities.__doc__.format(r=_LPA_ROUNDS)

_LPA_EDGES_SQL = f"""{_PR_EDGES_SQL}
UNION ALL
SELECT DISTINCT a AS src, a AS dst FROM ({_PR_PAIRS}) s1
UNION ALL
SELECT DISTINCT b AS src, b AS dst FROM ({_PR_PAIRS}) s2"""

_LPA_SQL = lpa_oracle_cte(
    _LPA_EDGES_SQL,
    rounds=_LPA_ROUNDS,
    select_sql=(
        "SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,"
        " CAST(sum(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_suppliers,"
        " CAST(sum(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_customers FROM l{_LPA_ROUNDS} GROUP BY lbl"
    ),
)


def q_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking — which part attribute (brand,
    type, size bucket) tells you most about whether a line gets
    RETURNED: the model-free feature-selection pass a training pipeline
    runs before fitting anything (chi2_abtest asks "are these two
    proportions different"; THIS ranks many features on one target by
    information). Reports MI in bits and the uncertainty coefficient
    U = MI/H(target) so features are comparable across targets.

    Exactness: all joint/marginal counts are exact BIGINTs from ONE
    grouped cube; every MI term log2(c_xy·N/(c_x·c_y)) has
    IEEE-identical integer-ratio operands in both engines, and the
    final sums are rounded 5 dp (4 dp for U) — wide enough for
    summation-association noise over the ≤ few-hundred-term sums.

    Scale: one broadcast dim join + stack(3) fans each line into three
    (feature, value) votes, collapsed by ONE map-side-combined groupBy
    to the (feature, value, label) counts cube; marginals are windows
    PARTITIONED BY FEATURE over that dimension-sized cube, so nothing
    after the first shuffle scales with the corpus."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_returnflag") == "R").cast("int").alias("y")
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).selectExpr(
        "y",
        "stack(3, 'brand', p_brand, 'type', p_type,"
        " 'size_bucket', cast(p_size div 10 as string)) as (feature, val)",
    )
    # the counts cube feeds BOTH the MI and the H(Y) branch: checkpoint it
    # (it is vals×2-sized) so neither branch re-executes the corpus scan
    counts = (
        j.groupBy("feature", "val", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
        .localCheckpoint(eager=True)
    )
    wf = Window.partitionBy("feature")
    enriched = counts.select(
        "feature",
        "val",
        "y",
        "cxy",
        F.sum("cxy").over(wf).cast("bigint").alias("n"),
        F.sum("cxy")
        .over(Window.partitionBy("feature", "val"))
        .cast("bigint")
        .alias("cx"),
        F.sum("cxy")
        .over(Window.partitionBy("feature", "y"))
        .cast("bigint")
        .alias("cy"),
    )
    term = F.col("cxy").cast("double") * F.log2(
        (F.col("cxy") * F.col("n")).cast("double")
        / (F.col("cx") * F.col("cy")).cast("double")
    )
    mi = enriched.groupBy("feature").agg(
        F.countDistinct("val").cast("bigint").alias("n_vals"),
        F.max("n").cast("bigint").alias("n_rows"),
        F.round(F.sum(term) / F.max("n"), 5).alias("mi_bits"),
    )
    ym = counts.groupBy("feature", "y").agg(
        F.sum("cxy").cast("bigint").alias("cy")
    )
    hy = (
        ym.withColumn("n", F.sum("cy").over(wf).cast("bigint"))
        .groupBy("feature")
        .agg(
            F.round(
                -F.sum(
                    F.col("cy").cast("double")
                    * F.log2(F.col("cy").cast("double") / F.col("n").cast("double"))
                )
                / F.max("n"),
                5,
            ).alias("h_target_bits")
        )
    )
    out = mi.join(F.broadcast(hy), "feature")
    return out.select(
        "feature",
        "n_vals",
        "n_rows",
        "mi_bits",
        "h_target_bits",
        # a constant target has no entropy to explain: NULL, not 0/0
        F.when(F.col("h_target_bits") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("mi_bits") / F.col("h_target_bits"), 4))
        .alias("uncertainty_coef"),
    )


_FEATURE_MI_SQL = """
WITH j AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         p_brand, p_type, CAST(p_size // 10 AS VARCHAR) AS size_bucket
  FROM lineitem JOIN part ON l_partkey = p_partkey
), stacked AS (
  SELECT 'brand' AS feature, p_brand AS val, y FROM j
  UNION ALL SELECT 'type', p_type, y FROM j
  UNION ALL SELECT 'size_bucket', size_bucket, y FROM j
), counts AS (
  SELECT feature, val, y, CAST(count(*) AS BIGINT) AS cxy
  FROM stacked GROUP BY 1, 2, 3
), enriched AS (
  SELECT feature, val, y, cxy,
         CAST(sum(cxy) OVER (PARTITION BY feature) AS BIGINT) AS n,
         CAST(sum(cxy) OVER (PARTITION BY feature, val) AS BIGINT) AS cx,
         CAST(sum(cxy) OVER (PARTITION BY feature, y) AS BIGINT) AS cy
  FROM counts
), mi AS (
  SELECT feature,
         CAST(count(DISTINCT val) AS BIGINT) AS n_vals,
         CAST(max(n) AS BIGINT) AS n_rows,
         -- + 0.0: MI is >= 0 mathematically but assembled as a double
         -- DIFFERENCE form — exact-zero cases can cancel tiny-negative
         -- and round to -0.0 (r17 slot fix)
         round(sum(CAST(cxy AS DOUBLE)
                   * log2(CAST(cxy * n AS DOUBLE)
                          / CAST(cx * cy AS DOUBLE))) / max(n), 5) + 0.0
           AS mi_bits
  FROM enriched GROUP BY 1
), ym AS (
  SELECT feature, y, CAST(sum(cxy) AS BIGINT) AS cy
  FROM counts GROUP BY 1, 2
), hy AS (
  SELECT feature,
         -- + 0.0: entropy via negated sum can round to -0.0 (r17 slot fix)
         round(-sum(CAST(cy AS DOUBLE)
                    * log2(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)))
               / max(n), 5) + 0.0 AS h_target_bits
  FROM (SELECT feature, y, cy,
               CAST(sum(cy) OVER (PARTITION BY feature) AS BIGINT) AS n
        FROM ym) t
  GROUP BY 1
)
SELECT mi.feature, n_vals, n_rows, mi_bits, h_target_bits,
       -- + 0.0: ratio of two signed-zero-capable terms (r17 slot fix)
       CASE WHEN h_target_bits = 0 THEN NULL ELSE
         round(mi_bits / h_target_bits, 4) + 0.0 END AS uncertainty_coef
FROM mi JOIN hy ON mi.feature = hy.feature
"""


def q_monthly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly active-customer growth accounting — per order month:
    actives, NEW (first-ever month), RETAINED (also active the previous
    calendar month), and CHURNED (active the previous month, absent
    now) — the standard growth decomposition (retention_daily answers
    next-day stickiness, cohort_ltv the vintage value matrix; THIS is
    the month-over-month P&L of the customer base).

    The closed form that avoids any anti-join: churned(m) =
    active(m−1) − retained(m) — both already computed — and a calendar
    GAP month (no previous row at m−1) correctly yields churned =
    active(last seen month) only AT that gap row's own entry, with the
    month after a gap getting retained = 0 by the exact mi−1 join (a
    lag() over observed rows would silently treat the gap as adjacent).
    All values are exact BIGINT distinct counts on integer month
    indexes (year·12 + month).

    Scale: one orders shuffle to the distinct (customer, month-index)
    grid; first-month via a customer-partitioned window over that grid;
    retained via ONE self-join on (customer, mi−1); the rollup and the
    final months-table walk are span-months-sized (bounded-window
    allowlist)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi"),
    )
    cm = o.distinct()
    first = Window.partitionBy("o_custkey")
    grid = cm.withColumn("first_mi", F.min("mi").over(first))
    prev = cm.select(
        F.col("o_custkey").alias("ck2"), (F.col("mi") + 1).alias("mi2")
    )
    marked = grid.join(
        prev,
        (grid["o_custkey"] == prev["ck2"]) & (grid["mi"] == prev["mi2"]),
        "left",
    )
    months = marked.groupBy("mi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum((F.col("mi") == F.col("first_mi")).cast("long"))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.col("ck2").isNotNull().cast("long"))
        .cast("bigint")
        .alias("n_retained"),
    )
    wm = Window.orderBy("mi")
    out = months.select(
        "mi",
        "n_active",
        "n_new",
        "n_retained",
        F.lag("mi").over(wm).alias("prev_mi"),
        F.lag("n_active").over(wm).alias("prev_active"),
    )
    churn = (
        F.when(F.col("prev_mi").isNull(), F.lit(None).cast("bigint"))
        .when(
            F.col("prev_mi") == F.col("mi") - 1,
            (F.col("prev_active") - F.col("n_retained")).cast("bigint"),
        )
        .otherwise(F.col("prev_active").cast("bigint"))
    )
    return out.select(
        "mi", "n_active", "n_new", "n_retained", churn.alias("n_churned")
    )


_MONTHLY_CHURN_SQL = """
WITH cm AS (
  SELECT DISTINCT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS mi
  FROM orders
), grid AS (
  SELECT o_custkey, mi,
         min(mi) OVER (PARTITION BY o_custkey) AS first_mi
  FROM cm
), marked AS (
  SELECT g.mi, g.first_mi, p.o_custkey AS ck2
  FROM grid g LEFT JOIN cm p
    ON g.o_custkey = p.o_custkey AND g.mi = p.mi + 1
), months AS (
  SELECT mi,
         CAST(count(*) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN mi = first_mi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN ck2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retained
  FROM marked GROUP BY 1
)
SELECT mi, n_active, n_new, n_retained,
       CASE WHEN lag(mi) OVER (ORDER BY mi) IS NULL THEN NULL
            WHEN lag(mi) OVER (ORDER BY mi) = mi - 1
              THEN CAST(lag(n_active) OVER (ORDER BY mi) - n_retained
                        AS BIGINT)
            ELSE CAST(lag(n_active) OVER (ORDER BY mi) AS BIGINT) END
         AS n_churned
FROM months
"""


def q_info_gain_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split table — information gain (bits) of every
    candidate threshold "discount ≤ t" against the returned flag: the
    single-feature half of tree induction (feature_mi ranks whole
    categorical features; THIS finds WHERE to cut a numeric one). The
    FULL candidate table is returned rather than a float argmax — every
    row's counts are exact and its gain independently rounded, so no
    cross-engine float ORDERING ever decides the result (the max row is
    pinned in pytest instead; at ~11 distinct discounts the table is
    dimension-sized anyway).

    Exactness: discount quantized to exact integer basis points; class
    counts per candidate from ONE cumulative walk over the distinct-value
    table; every entropy term's operands are integer ratios (0·log 0
    guarded to 0 in both engines); gain rounded 5 dp.

    Scale: one map-side groupBy collapses the corpus to the ≤|distinct
    values| class-count table; the cumulative window and gain math run
    on those ~11 rows (bounded-window allowlist)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("bp"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    vals = li.groupBy("bp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w = Window.orderBy("bp").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("bp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.select(
        "bp",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("pos").over(w).cast("bigint").alias("pl"),
        F.sum("n").over(wall).cast("bigint").alias("nt"),
        F.sum("pos").over(wall).cast("bigint").alias("pt"),
    ).where(F.col("nl") < F.col("nt"))

    def _h(p, n):
        # binary entropy of p/n in bits, 0·log2(0) = 0 guarded
        frac = p.cast("double") / n.cast("double")
        term = lambda f: F.when(  # noqa: E731
            (f > 0) & (f < 1), -f * F.log2(f)
        ).otherwise(F.lit(0.0))
        return term(frac) + term(1 - frac)

    nr = F.col("nt") - F.col("nl")
    pr = F.col("pt") - F.col("pl")
    gain = (
        _h(F.col("pt"), F.col("nt"))
        - (F.col("nl").cast("double") / F.col("nt").cast("double"))
        * _h(F.col("pl"), F.col("nl"))
        - (nr.cast("double") / F.col("nt").cast("double")) * _h(pr, nr)
    )
    return cum.select(
        F.col("bp").alias("threshold_bp"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        nr.alias("n_right"),
        pr.alias("pos_right"),
        F.round(gain, 5).alias("ig_bits"),
    )


_INFO_GAIN_SQL = """
WITH base AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS bp,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
), vals AS (
  SELECT bp, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM base GROUP BY 1
), cum AS (
  SELECT bp,
         CAST(sum(n) OVER (ORDER BY bp ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS nl,
         CAST(sum(pos) OVER (ORDER BY bp ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS pl,
         CAST(sum(n) OVER () AS BIGINT) AS nt,
         CAST(sum(pos) OVER () AS BIGINT) AS pt
  FROM vals
)
SELECT bp AS threshold_bp, nl AS n_left, pl AS pos_left,
       nt - nl AS n_right, pt - pl AS pos_right,
       round(
         (CASE WHEN pt > 0 AND pt < nt THEN
            -(CAST(pt AS DOUBLE) / nt) * log2(CAST(pt AS DOUBLE) / nt)
            - (1 - CAST(pt AS DOUBLE) / nt)
              * log2(1 - CAST(pt AS DOUBLE) / nt)
          ELSE 0.0 END)
         - (CAST(nl AS DOUBLE) / nt)
           * (CASE WHEN pl > 0 AND pl < nl THEN
                -(CAST(pl AS DOUBLE) / nl) * log2(CAST(pl AS DOUBLE) / nl)
                - (1 - CAST(pl AS DOUBLE) / nl)
                  * log2(1 - CAST(pl AS DOUBLE) / nl)
              ELSE 0.0 END)
         - (CAST(nt - nl AS DOUBLE) / nt)
           * (CASE WHEN pt - pl > 0 AND pt - pl < nt - nl THEN
                -(CAST(pt - pl AS DOUBLE) / (nt - nl))
                  * log2(CAST(pt - pl AS DOUBLE) / (nt - nl))
                - (1 - CAST(pt - pl AS DOUBLE) / (nt - nl))
                  * log2(1 - CAST(pt - pl AS DOUBLE) / (nt - nl))
              ELSE 0.0 END), 5) AS ig_bits
FROM cum WHERE nl < nt
"""


_WILSON_Z = 1.96  # 95% two-sided


def q_supplier_return_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier return rate with the WILSON 95% interval — the
    small-sample-honest quality ranking (a supplier with 1/1 returned
    lines is NOT worse than one with 40/100: the raw rate says so, the
    Wilson lower bound does not — the reason review sites don't sort by
    raw average). chi2_abtest compares two fixed groups; THIS scores
    every supplier against its own volume.

    Exactness: n and k are exact BIGINT counts; the Wilson bounds are
    the SAME closed-form expression evaluated from those integers in
    both engines — identical operand trees (one sqrt, fixed-order
    divisions), rounded 4 dp. n ≥ 1 always (group exists ⇒ has a line).

    Scale: ONE map-side-combined groupBy(suppkey) is the corpus
    shuffle; the math is per-row arithmetic on the supplier-sized
    frame."""
    z2 = _WILSON_Z * _WILSON_Z
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", (F.col("l_returnflag") == "R").cast("long").alias("y")
    )
    g = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(_WILSON_Z)
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return g.select(
        "l_suppkey",
        "n",
        "k",
        F.round(p, 4).alias("rate"),
        F.round(center - half, 4).alias("wilson_lo"),
        F.round(center + half, 4).alias("wilson_hi"),
    )


_WILSON_SQL = f"""
WITH g AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM lineitem GROUP BY 1
)
SELECT l_suppkey, n, k,
       round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 4) AS rate,
       round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
              + {_WILSON_Z * _WILSON_Z} / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + {_WILSON_Z * _WILSON_Z} / CAST(n AS DOUBLE))
             - {_WILSON_Z}
               * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + {_WILSON_Z * _WILSON_Z}
                        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 + {_WILSON_Z * _WILSON_Z} / CAST(n AS DOUBLE)), 4)
         AS wilson_lo,
       round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
              + {_WILSON_Z * _WILSON_Z} / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + {_WILSON_Z * _WILSON_Z} / CAST(n AS DOUBLE))
             + {_WILSON_Z}
               * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + {_WILSON_Z * _WILSON_Z}
                        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 + {_WILSON_Z * _WILSON_Z} / CAST(n AS DOUBLE)), 4)
         AS wilson_hi
FROM g
"""


def q_below_avg_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's correlated-subquery shape, decorrelated — lineitems
    whose quantity falls below 20% of THEIR OWN PART's average quantity
    (the small-order / trickle-demand slice), rolled up per brand: the
    classic "scalar subquery per group → pre-aggregate + re-join"
    rewrite Catalyst would have to derive from the correlated form,
    written directly as the join so the plan is the one a 100 TB run
    needs (one part-key shuffle for the per-part moments, one fact
    re-join on the same key, broadcast brand dim).

    Exactness trick: the threshold q < 0.2·(Σq/n) clears denominators
    to 5·q·n < Σq — a PURE BIGINT predicate on quantity cents, so the
    cut is partitioning- and engine-exact with no float ever computed;
    revenue stays exact cents and the brand share is ONE division
    rounded 4 dp. The per-part moments ride a PART-KEY WINDOW (whole-
    partition frame) rather than a groupBy + re-join: same single
    shuffle, but the fact is SCANNED ONCE (the scan-budget sweep caught
    the two-scan draft)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qc"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    wp = Window.partitionBy("l_partkey")
    j = li.select(
        "l_partkey",
        "qc",
        "cents",
        F.sum("qc").over(wp).cast("bigint").alias("sum_q"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_q"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    small = F.lit(5) * F.col("qc") * F.col("n_q") < F.col("sum_q")
    return (
        j.join(F.broadcast(p), j["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(small.cast("long")).cast("bigint").alias("n_small"),
            F.sum(F.when(small, F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("small_rev_cents"),
            F.round(
                F.sum(small.cast("long")) / F.count(F.lit(1)), 4
            ).alias("small_share"),
        )
    )


_BELOW_AVG_SQL = """
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), per_part AS (
  SELECT l_partkey,
         CAST(sum(qc) AS BIGINT) AS sum_q,
         CAST(count(*) AS BIGINT) AS n_q
  FROM li GROUP BY 1
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN 5 * qc * n_q < sum_q THEN 1 ELSE 0 END)
            AS BIGINT) AS n_small,
       CAST(sum(CASE WHEN 5 * qc * n_q < sum_q THEN cents ELSE 0 END)
            AS BIGINT) AS small_rev_cents,
       round(sum(CASE WHEN 5 * qc * n_q < sum_q THEN 1 ELSE 0 END)
             / count(*), 4) AS small_share
FROM li
JOIN per_part USING (l_partkey)
JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph — the Pearson correlation
    of endpoint degrees over all (symmetric) edges (Newman 2002): do
    high-degree suppliers trade with high-degree customers (assortative,
    r > 0) or with the long tail (disassortative, r < 0)? Completes
    degree_histogram's shape readout with the MIXING readout — the
    number that predicts whether hot-key skew concentrates (hub-hub
    edges) or spreads under an edges⋈nodes join.

    Determinism: endpoint degrees are exact BIGINTs; the six moments
    are exact BIGINT sums; the Pearson assembly casts each exact moment
    ONCE to double and evaluates the identical expression tree in both
    engines (n·Σxy can pass 2^53 at scale, so the double assembly is
    the DETERMINISM contract, not an exactness claim — documented),
    rounded 4 dp. Zero variance (regular graph) → NULL via the EXACT
    moment identity n·Σd² = (Σd)² on DECIMAL(38,0)/HUGEINT (the welch
    r14 posture: past 2^53 the double-assembled variance of a constant
    side lands tiny-nonzero, so a double == 0 guard misses and
    sqrt(negative) makes NaN; the identity is exact while n·saa stays
    under 1e38 — beyond that, span the moments to DECIMAL), plus a
    va/vb <= 0 fallback that NULLs FP cancellation noise.

    Scale: one distinct-pair shuffle, one degree groupBy, two
    degree-attach hash joins on the endpoint keys (each O(edges) ⋈
    O(nodes)), and ONE scalar moment fold (the documented 1-row
    single-partition case). The symmetric edge list is CHECKPOINTED
    once — it feeds the degree agg AND both join sides, so without the
    checkpoint the pair lineage re-executes per consumer (the
    triangle_count lesson; the scan-budget sweep caught the 12-scan
    draft)."""
    edges = _symmetrize(_trade_pairs(spark, sf_dir)).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    da = deg.select(F.col("src").alias("ka"), F.col("d").alias("da"))
    db = deg.select(F.col("src").alias("kb"), F.col("d").alias("db"))
    j = edges.join(da, edges["src"] == da["ka"]).join(
        db, edges["dst"] == db["kb"]
    )
    m = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("da").cast("bigint").alias("sa"),
        F.sum("db").cast("bigint").alias("sb"),
        F.sum(F.col("da") * F.col("db")).cast("bigint").alias("sab"),
        F.sum(F.col("da") * F.col("da")).cast("bigint").alias("saa"),
        F.sum(F.col("db") * F.col("db")).cast("bigint").alias("sbb"),
    )
    n = m["n"].cast("double")
    cov = n * m["sab"].cast("double") - m["sa"].cast("double") * m["sb"].cast(
        "double"
    )
    va = n * m["saa"].cast("double") - m["sa"].cast("double") * m["sa"].cast(
        "double"
    )
    vb = n * m["sbb"].cast("double") - m["sb"].cast("double") * m["sb"].cast(
        "double"
    )
    dec = "decimal(38,0)"
    # Past ~1e38 the DECIMAL(38,0) product overflows. Under ANSI mode
    # (this repo's session default in Spark 4.x) it RAISES — the same
    # deterministic hard error DuckDB's HUGEINT gives, so the engines'
    # out-of-envelope failure modes are aligned. The coalesce(False) pins
    # the non-ANSI configuration, where the product would instead be NULL
    # and silently fall through F.when (ADVICE r14): overflow then takes
    # the deterministic double path, never NULL-propagation.
    const_a = F.coalesce(
        m["n"].cast(dec) * m["saa"].cast(dec)
        == m["sa"].cast(dec) * m["sa"].cast(dec),
        F.lit(False),
    )
    const_b = F.coalesce(
        m["n"].cast(dec) * m["sbb"].cast(dec)
        == m["sb"].cast(dec) * m["sb"].cast(dec),
        F.lit(False),
    )
    return m.select(
        m["n"].alias("n_edges"),
        F.when(const_a | const_b | (va <= 0) | (vb <= 0),
               F.lit(None).cast("double"))
        .otherwise(F.round(cov / F.sqrt(va * vb), 4))
        .alias("assortativity"),
    )


_ASSORT_SQL = """
WITH pairs AS (
  SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1
), j AS (
  SELECT da.d AS da, db.d AS db
  FROM edges e
  JOIN deg da ON e.src = da.src
  JOIN deg db ON e.dst = db.src
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(da) AS BIGINT) AS sa,
         CAST(sum(db) AS BIGINT) AS sb,
         CAST(sum(da * db) AS BIGINT) AS sab,
         CAST(sum(da * da) AS BIGINT) AS saa,
         CAST(sum(db * db) AS BIGINT) AS sbb
  FROM j
)
SELECT n AS n_edges,
       -- NULL guards mirror the Spark side exactly: zero variance via the
       -- EXACT HUGEINT moment identity (a double = 0 test misses a
       -- constant side past 2^53), plus a <= 0 fallback for FP noise
       CASE WHEN CAST(n AS HUGEINT) * saa = CAST(sa AS HUGEINT) * sa
              OR CAST(n AS HUGEINT) * sbb = CAST(sb AS HUGEINT) * sb
              OR CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                 - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) <= 0
              OR CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) <= 0
            THEN NULL
       -- + 0.0: a tiny-negative assortativity must not round to -0.0
       ELSE round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                            - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 4)
            + 0.0
       END AS assortativity
FROM m
"""


_SP_RADIUS = 150
_SP_MOD = 10_000


def q_spatial_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join — all customer pairs within L2 distance
    {r} on a derived integer 2-D embedding (x = account-balance cents mod
    {m}, y = custkey·7919 mod {m}): the "find nearby points" join behind
    geo dedup, store-catchment overlap, and sensor co-location, blocked
    by a fixed grid so it is ONE equi-join instead of O(n²)
    (operators/spatial.py — Patel & DeWitt's PBSM grid, points case).

    Exactness: integer coordinates, BIGINT dist² = dx²+dy² <= r² — no
    floats anywhere, and the grid produces each qualifying pair EXACTLY
    once (3×3 replica uniqueness + id ordering), so the oracle can run
    the DEFINITIONAL quadratic distance join (DuckDB's IEJoin handles the
    range predicate) — agreement checks the blocking is lossless, the
    fuzzy_join posture in 2-D.

    Scale: one shuffle on the cell key carrying (id, x, y) only, 9×
    replication on one side; hot cells are equi-join hot keys (AQE)."""
    from ..operators.spatial import grid_neighbor_pairs

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cid"),
        (F.round(F.col("c_acctbal") * 100).cast("bigint") % _SP_MOD).alias("x"),
        ((F.col("c_custkey") * 7919) % _SP_MOD).alias("y"),
    )
    return grid_neighbor_pairs(c, "x", "y", "cid", radius=_SP_RADIUS)


q_spatial_pairs.__doc__ = q_spatial_pairs.__doc__.format(
    r=_SP_RADIUS, m=_SP_MOD
)

_SPATIAL_SQL = f"""
WITH p AS (
  SELECT c_custkey AS cid,
         CAST(round(c_acctbal * 100) AS BIGINT) % {_SP_MOD} AS x,
         (c_custkey * 7919) % {_SP_MOD} AS y
  FROM customer
)
SELECT a.cid AS id_a, b.cid AS id_b,
       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT)
         AS dist2
FROM p a JOIN p b
  ON a.cid < b.cid
 AND b.x BETWEEN a.x - {_SP_RADIUS} AND a.x + {_SP_RADIUS}
 AND b.y BETWEEN a.y - {_SP_RADIUS} AND a.y + {_SP_RADIUS}
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {_SP_RADIUS * _SP_RADIUS}
"""


_Z_CELL_DIV = 16  # drop the low 4 morton bits: each cell = a 4×4 (x,y) block


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout diagnostic — the multi-dimensional data-skipping
    story (Delta OPTIMIZE ZORDER): orders are keyed by the Morton
    interleave of (customer bucket, order-day bucket) and grouped by
    morton-prefix cells. The payoff the output proves: within EVERY cell,
    BOTH dimensions are range-bounded (dropping 4 morton bits = 2 bits per
    axis, a 4×4 block — pytest pins max−min <= 3 on each axis for all
    cells), which is exactly why
    min/max file statistics on a z-sorted layout prune on EITHER filter
    column, where a lexicographic sort prunes only its leading one.

    Scale: the key is a pure-integer whole-stage-codegen expression
    (functions/zorder.py — no UDF, no shuffle to compute); the diagnostic
    itself is one hash agg on the prefix. The production use is
    ``sort_values(morton_key(...))`` before the parquet sink — the same
    sorted-write machinery sources/sinks.py already pins pruning for."""
    from ..functions.zorder import morton_key

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("o_custkey % 256").alias("xb"),
        F.expr(
            "datediff(o_orderdate, DATE '1995-01-01') % 256"
        ).alias("yb"),
    )
    z = o.withColumn("zkey", morton_key("xb", "yb"))
    return (
        z.groupBy(F.expr(f"zkey div {_Z_CELL_DIV}").alias("zcell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("xb").alias("min_x"),
            F.max("xb").alias("max_x"),
            F.min("yb").alias("min_y"),
            F.max("yb").alias("max_y"),
        )
        .orderBy("zcell")
    )


def _zorder_sql() -> str:
    from ..functions.zorder import morton_key_sql

    return f"""
WITH b AS (
  SELECT o_custkey % 256 AS xb,
         datediff('day', DATE '1995-01-01', o_orderdate) % 256 AS yb
  FROM orders
),
z AS (SELECT xb, yb, {morton_key_sql("xb", "yb")} AS zkey FROM b)
SELECT zkey // {_Z_CELL_DIV} AS zcell, count(*) AS n,
       min(xb) AS min_x, max(xb) AS max_x,
       min(yb) AS min_y, max(yb) AS max_y
FROM z GROUP BY 1 ORDER BY 1
"""


_CDC_INS_OFFSET = 1_000_000_000_000  # insert keys: disjoint at any SF


def q_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply — the lakehouse MERGE/upsert: given a base
    snapshot and an (op, seq) changelog, produce the next snapshot. The
    changelog is derived deterministically from orders so every branch
    fires at every SF: an early update (seq 1, keys %3: price+500), a
    later update that must WIN over it on overlap keys (seq 2, %5:
    price+1000), a delete that outranks both (seq 3, %7), and inserts on
    a key range disjoint by construction. Semantics: per key the highest-
    seq changelog row decides — D drops the row, U/I writes its value,
    untouched base rows pass through. `snapshot_diff` tells you WHAT
    changed between snapshots; this APPLIES a change stream to make one.

    Scale: the changelog collapses to one row per touched key via
    ``max_by(struct(seq))`` (one shuffle on key, payload = the latest op),
    then ONE hash-keyed full-outer join against the base — the base never
    shuffles more than once and carries only (key, payload); no window
    over the base, no driver state."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.round("o_totalprice", 2).alias("price"),
    )
    u1 = o.filter(F.col("k") % 3 == 0).select(
        "k", F.lit(1).alias("seq"), F.lit("U").alias("op"),
        "cust", F.round(F.col("price") + 500.0, 2).alias("price"),
    )
    u2 = o.filter(F.col("k") % 5 == 0).select(
        "k", F.lit(2).alias("seq"), F.lit("U").alias("op"),
        "cust", F.round(F.col("price") + 1000.0, 2).alias("price"),
    )
    dels = o.filter(F.col("k") % 7 == 0).select(
        "k", F.lit(3).alias("seq"), F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("cust"),
        F.lit(None).cast("double").alias("price"),
    )
    ins = o.filter(F.col("k") % 11 == 0).select(
        (F.col("k") + _CDC_INS_OFFSET).alias("k"),
        F.lit(1).alias("seq"), F.lit("I").alias("op"),
        "cust", F.lit(42.0).alias("price"),
    )
    log = u1.unionByName(u2).unionByName(dels).unionByName(ins)
    latest = log.groupBy("k").agg(
        F.max_by(F.struct("op", "cust", "price"), F.col("seq")).alias("ch")
    ).select("k", "ch.op", F.col("ch.cust").alias("ch_cust"),
             F.col("ch.price").alias("ch_price"))
    base = o.withColumnRenamed("cust", "b_cust").withColumnRenamed(
        "price", "b_price"
    )
    merged = base.join(latest, "k", "full")
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            F.col("k").alias("o_orderkey"),
            F.coalesce("ch_cust", "b_cust").alias("o_custkey"),
            F.coalesce("ch_price", "b_price").alias("o_totalprice"),
        )
    )


_APPLY_CDC_SQL = f"""
WITH o AS (
  SELECT o_orderkey AS k, o_custkey AS cust, round(o_totalprice, 2) AS price
  FROM orders
),
log AS (
  SELECT k, 1 AS seq, 'U' AS op, cust, round(price + 500.0, 2) AS price
  FROM o WHERE k % 3 = 0
  UNION ALL
  SELECT k, 2, 'U', cust, round(price + 1000.0, 2) FROM o WHERE k % 5 = 0
  UNION ALL
  SELECT k, 3, 'D', NULL, NULL FROM o WHERE k % 7 = 0
  UNION ALL
  SELECT k + {_CDC_INS_OFFSET}, 1, 'I', cust, 42.0 FROM o WHERE k % 11 = 0
),
latest AS (
  SELECT k,
         arg_max(op, seq) AS op,
         arg_max(cust, seq) AS ch_cust,
         arg_max(price, seq) AS ch_price
  FROM log GROUP BY k
)
SELECT coalesce(o.k, latest.k) AS o_orderkey,
       coalesce(ch_cust, o.cust) AS o_custkey,
       coalesce(ch_price, o.price) AS o_totalprice
FROM o FULL OUTER JOIN latest ON o.k = latest.k
WHERE op IS NULL OR op <> 'D'
"""


# (keyset label, table, key column) profiled by q_skew_profile
_SKEW_KEYSETS = (
    ("events.user_id", "events", "user_id"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
)


def _skew_one(spark: SparkSession, sf_dir: str, label: str, table: str, key: str) -> DataFrame:
    counts = (
        load_table(spark, sf_dir, table)
        .groupBy(F.col(key).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_cnt"),
        F.round(F.percentile("c", F.lit(0.99)), 4).alias("p99_cnt"),
        F.sum(F.col("c") * F.log2("c")).alias("_sclog"),
    ).select(
        F.lit(label).alias("keyset"),
        "n_keys",
        "n_rows",
        "max_cnt",
        "p99_cnt",
        F.round(F.col("max_cnt") / F.col("n_rows"), 6).alias("hot_share"),
        F.round(F.log2("n_rows") - F.col("_sclog") / F.col("n_rows"), 6).alias(
            "entropy_bits"
        ),
    )


# (label, left table, left key, right table, right key) sized by
# q_join_explosion — includes one 1:N join and one self-join (the shape
# where output cardinality silently goes quadratic in hot keys)
_JOINSIZE_SETS = (
    ("orders*lineitem@orderkey", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer*orders@custkey", "customer", "c_custkey", "orders", "o_custkey"),
    ("events*events@user_id", "events", "user_id", "events", "user_id"),
)


def join_size_profile(
    a: DataFrame, ka: str, b: DataFrame, kb: str, label: str,
    tot_a: int, tot_b: int,
) -> DataFrame:
    """Frame-level core of q_join_explosion (also driven directly by the
    11M-row scale smoke): exact equi-join output size from the two sides'
    per-key count tables."""
    ca = a.groupBy(F.col(ka).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
    cb = b.groupBy(F.col(kb).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
    per_key = ca.join(cb, "k").select(
        "k", (F.col("ca") * F.col("cb")).alias("out_k"), "ca", "cb"
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys_matched"),
        F.sum("out_k").alias("out_rows"),
        F.max("out_k").alias("max_key_out"),
    ).select(
        F.lit(label).alias("join_label"),
        F.lit(tot_a).cast("bigint").alias("in_rows_a"),
        F.lit(tot_b).cast("bigint").alias("in_rows_b"),
        "n_keys_matched",
        "out_rows",
        "max_key_out",
        F.round(F.col("out_rows") / F.lit(tot_a + tot_b), 4).alias("blowup"),
        F.round(F.col("max_key_out") / F.col("out_rows"), 6).alias("top_key_share"),
    )


def q_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality pre-flight — skew_profile's companion: BEFORE
    committing a 100 TB join, estimate its EXACT output size from the two
    sides' per-key count tables (output rows = Σ_k cnt_a(k)·cnt_b(k) — an
    identity, not an estimate, for equi-joins). Per candidate join: both
    input sizes, matched-key count, exact output rows, the hottest key's
    output contribution and share (the straggler predictor), and the
    blow-up factor vs the combined inputs. The events self-join row is the
    canonical trap this catches: output grows with Σ cnt², quadratic in
    hot keys while inputs look innocent.

    Scale: per join TWO partial+final hash aggs (shuffles carry O(keys))
    + ONE O(keys)⋈O(keys) join + a scalar fold — the fact tables
    themselves never join; every arithmetic term is BIGINT-exact. The two
    `.count()`s are 1-scalar driver reads of columnar row counts."""
    parts = []
    for label, ta, ka, tb, kb in _JOINSIZE_SETS:
        a = load_table(spark, sf_dir, ta)
        b = load_table(spark, sf_dir, tb)
        parts.append(join_size_profile(a, ka, b, kb, label, a.count(), b.count()))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _join_size_one_sql(label: str, ta: str, ka: str, tb: str, kb: str) -> str:
    return f"""
SELECT '{label}' AS join_label,
       (SELECT count(*) FROM {ta}) AS in_rows_a,
       (SELECT count(*) FROM {tb}) AS in_rows_b,
       count(*) AS n_keys_matched,
       CAST(sum(out_k) AS BIGINT) AS out_rows,
       CAST(max(out_k) AS BIGINT) AS max_key_out,
       round(sum(out_k) * 1.0 / ((SELECT count(*) FROM {ta}) + (SELECT count(*) FROM {tb})), 4) AS blowup,
       round(max(out_k) * 1.0 / sum(out_k), 6) AS top_key_share
FROM (
  SELECT a.k, a.ca * b.cb AS out_k
  FROM (SELECT {ka} AS k, CAST(count(*) AS BIGINT) AS ca FROM {ta} GROUP BY 1) a
  JOIN (SELECT {kb} AS k, CAST(count(*) AS BIGINT) AS cb FROM {tb} GROUP BY 1) b USING (k)
)
"""


_JOIN_EXPLOSION_SQL = "\nUNION ALL\n".join(
    _join_size_one_sql(label, ta, ka, tb, kb)
    for label, ta, ka, tb, kb in _JOINSIZE_SETS
)


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew pre-flight diagnostic — the profiling run a 100 TB operator
    does BEFORE committing to a shuffle key (the groupBy/join analog of
    ``ivf_balance``): per candidate key, the key count, max and p99
    per-key row counts, the hottest key's share of all rows, and the key
    distribution's Shannon entropy in bits (uniform ⇒ log2(n_keys);
    the gap to that ceiling is the skew). A hot_share near the reciprocal
    of the partition count predicts a straggler task; salting / AQE skew
    thresholds are chosen from exactly these numbers.

    Scale: per keyset ONE partial+final hash agg over the fact table (the
    shuffle carries O(keys)) and ONE scalar agg over the counts table —
    entropy folds as ``log2(N) - Σ c·log2(c) / N``, so no per-key
    probability column and no second pass; no window, no crossJoin."""
    parts = [
        _skew_one(spark, sf_dir, label, table, key)
        for label, table, key in _SKEW_KEYSETS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _skew_one_sql(label: str, table: str, key: str) -> str:
    return f"""
SELECT '{label}' AS keyset,
       count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       max(c) AS max_cnt,
       round(quantile_cont(c, 0.99), 4) AS p99_cnt,
       round(max(c) * 1.0 / sum(c), 6) AS hot_share,
       -- + 0.0: entropy assembled as a DIFFERENCE in double — an exact-zero
       -- case can cancel tiny-negative and round to -0.0 (r16 slot fix)
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) + 0.0 AS entropy_bits
FROM (SELECT {key} AS k, CAST(count(*) AS BIGINT) AS c FROM {table} GROUP BY {key})
"""


_SKEW_PROFILE_SQL = "\nUNION ALL\n".join(
    _skew_one_sql(label, table, key) for label, table, key in _SKEW_KEYSETS
)


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity (association-rule mining's counting core,
    Agrawal & Srikant VLDB'94): for every unordered brand pair, the
    number of orders whose baskets contain BOTH, each side's own basket
    support, and the lift n_co·N/(sup_a·sup_b) — the "bought together"
    matrix behind recommendations and cross-sell analytics.

    Exactness: all counts are exact BIGINTs; lift is ONE fixed-order
    division of two exact BIGINT products rounded to 4 dp (the twap
    single-float-op rule).

    Scale: baskets self-join ON THE ORDER KEY — the per-basket pair
    fan-out is (basket size choose 2), bounded by basket width, never
    |orders|² (join_explosion is the pre-flight that proves it); the
    item frame is localCheckpoint-ed (three consumers — supports, both
    join sides — would otherwise re-scan the corpus), the 25-row brand
    supports broadcast, and the 1-row basket total rides the
    model-attach crossJoin. Output is |brands|² — vocabulary-bounded."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_baskets = items.agg(
        F.countDistinct("ok").cast("bigint").alias("n_baskets")
    )
    sup = items.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("sup"))
    co = (
        items.alias("a")
        .join(
            items.alias("c"),
            (F.col("a.ok") == F.col("c.ok")) & (F.col("a.b") < F.col("c.b")),
        )
        .groupBy(
            F.col("a.b").alias("brand_a"), F.col("c.b").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
    )
    return (
        co.join(
            F.broadcast(sup.select(F.col("b").alias("brand_a"), F.col("sup").alias("sup_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(sup.select(F.col("b").alias("brand_b"), F.col("sup").alias("sup_b"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "brand_a",
            "brand_b",
            "n_co",
            "sup_a",
            "sup_b",
            F.round(
                (F.col("n_co") * F.col("n_baskets"))
                / (F.col("sup_a") * F.col("sup_b")),
                4,
            ).alias("lift"),
        )
    )


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median line price per supplier nation —
    the weighted member of the quantile family (`percentiles` is
    unweighted, `kll_quantiles` is the sketch): each price counts with
    its shipped quantity, the median is the smallest price whose
    cumulative weight reaches half the nation's total (the lower
    weighted median, Cormen et al. §9 problem form).

    Exactness: cents and quantities are exact BIGINTs (TPC-H quantities
    are integral — asserted by the fixture); the defining inequality is
    ``2·cumw >= W`` in pure integer arithmetic, so there is NO float
    anywhere — the selection is engine/partitioning-exact with no
    rounding and no tie-break (weights collapse per distinct price
    first, so the cumulative walk visits each value once).

    Scale: one broadcast dim join (1,000 suppliers), one groupBy on
    (nation, price) — the shuffle that bounds the window input to
    DISTINCT values per nation, not rows — then ONE nation-partitioned
    cumulative window. Value domains too wide to walk at 100 TB get
    quantized first (fixed-width bins with summed weights — the
    drift_numeric binning, which bounds the walk by bin count at a
    known rank error); this is the exact tier."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    g = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy("s_nationkey", "cents")
        .agg(F.sum("qty").cast("bigint").alias("w"))
    )
    wc = (
        Window.partitionBy("s_nationkey")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("s_nationkey")
    x = g.select(
        "s_nationkey",
        "cents",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wt).alias("W"),
    )
    return (
        x.where(2 * F.col("cumw") >= F.col("W"))
        .groupBy("s_nationkey")
        .agg(
            F.min("cents").cast("bigint").alias("median_cents"),
            F.max("W").cast("bigint").alias("total_qty"),
        )
    )


_WQB_BIN_CENTS = 500  # fixed $5 bins over the line-price domain
_WQB_PCTS = (25, 50, 75, 90)


def q_weighted_quantiles_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned weighted quantiles (p25/p50/p75/p90) of line price per
    supplier nation — the quantized SKETCH tier of the weighted-quantile
    family (`weighted_median` is the exact tier, `kll_quantiles`/
    `group_kll_quantiles` the unweighted sketch tier): weights (shipped
    quantities) sum into fixed-width ``_WQB_BIN_CENTS`` price bins, and
    the q-quantile is the midpoint of the FIRST bin whose cumulative
    weight reaches q% of the nation's total — ``100·cumw >= q·W`` in
    pure BIGINT (the weighted_median inequality generalized from q=50).

    Error bound: binning preserves value order, so the selected bin
    always CONTAINS the exact weighted q-quantile; the reported midpoint
    is within ±bin_width/2 = ±250 cents of the exact value
    (pytest-pinned against the exact tier). This IS the "quantize wide
    domains to bins first" tier the exact tier's docstring points
    wide-domain users at — now a first-class query instead of a caveat.

    Exactness: every selection step — binning, weight sums, the
    cumulative walk, the threshold inequality, the midpoint — is BIGINT
    arithmetic; there is no float anywhere, so the oracle replays the
    selection verbatim and the result is engine/partitioning-exact.

    Scale: identical shape to the exact tier, but the groupBy key is
    (nation, bin), so the shuffle AND the cumulative window are bounded
    by domain/bin_width rows per nation REGARDLESS of corpus size — the
    knob that keeps the per-group walk constant at 100 TB where a
    distinct-price walk could not be."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    g = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy(
            "s_nationkey",
            F.expr(f"cents div {_WQB_BIN_CENTS}").alias("bin"),
        )
        .agg(F.sum("qty").cast("bigint").alias("w"))
    )
    wc = (
        Window.partitionBy("s_nationkey")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("s_nationkey")
    x = g.select(
        "s_nationkey",
        "bin",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wt).alias("W"),
    )
    return (
        x.select(
            "s_nationkey",
            "bin",
            "cumw",
            "W",
            F.explode(F.array(*[F.lit(p) for p in _WQB_PCTS])).alias("pct"),
        )
        .where(100 * F.col("cumw") >= F.col("pct") * F.col("W"))
        .groupBy("s_nationkey", "pct")
        .agg(
            (F.min("bin") * _WQB_BIN_CENTS + _WQB_BIN_CENTS // 2)
            .cast("bigint")
            .alias("value_cents")
        )
    )


def q_single_source_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source supply-risk audit — per brand: how many traded parts
    have EXACTLY ONE shipping supplier, and how much revenue rides on
    them (the supply-chain concentration question beside `market_hhi`'s
    market-share view; ref_integrity audits keys, THIS audits
    resilience). A brand with high single-source revenue share has no
    fallback when that supplier fails.

    Exactness: supplier counts are exact distinct counts per part,
    revenue exact BIGINT cents, the share ONE fixed-order division
    rounded 4 dp. The risky-part cut (n_suppliers = 1) is set
    membership.

    Scale: one lineitem scan collapsed to per-part (suppliers, cents)
    first — the only fact shuffle — then a broadcast dim join to brand
    and a |brands|-group rollup; dimension-sized after the first agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = per_part.join(F.broadcast(p), per_part.l_partkey == p.p_partkey)
    risky = F.col("n_suppliers") == 1
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(risky.cast("long")).cast("bigint").alias("n_single_source"),
        F.sum(F.when(risky, F.col("cents")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("at_risk_cents"),
        F.round(
            F.sum(F.when(risky, F.col("cents")).otherwise(F.lit(0))).cast("double")
            / F.sum("cents").cast("double"),
            4,
        ).alias("at_risk_share"),
    )


_SINGLE_SOURCE_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY 1
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_source,
       CAST(sum(CASE WHEN n_suppliers = 1 THEN cents ELSE 0 END) AS BIGINT)
         AS at_risk_cents,
       round(CAST(sum(CASE WHEN n_suppliers = 1 THEN cents ELSE 0 END)
                  AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 4)
         AS at_risk_share
FROM per_part JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


_HIER_LEVELS = 3  # decimal part families: p div 10, div 100, div 1000


def q_part_family_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (bill-of-materials-style) revenue rollup — every
    part's revenue aggregated into ALL of its ancestors at once, the
    org-chart / product-taxonomy / BOM question asked without recursion:
    ancestors are derived as COLUMN EXPRESSIONS (the decimal family tree
    p div 10 / div 100 / div 1000 — a stand-in for a real parent table's
    materialized path) and exploded, so the k-level rollup is ONE
    explode + ONE groupBy instead of k self-joins or an iterative climb.
    cube/rollup aggregate along INDEPENDENT dimensions; this rolls up a
    NESTED hierarchy on one key.

    Exactness: ancestor keys are exact integer divisions; revenue is
    exact BIGINT cents; per-level part counts are exact distinct counts.

    Scale: revenue first collapses to ONE row per part (the fact shuffle
    — map-side combined), THEN the ×levels explode runs on the
    dimension-sized frame, so the rollup adds levels·|parts| rows, never
    levels·|lineitems|. The materialized-path trick is the same one a
    real taxonomy uses: store the path, derive ancestors narrowly,
    never join the hierarchy per level."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    anc = per_part.select(
        "l_partkey",
        "cents",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"l_partkey div {10 ** (lv + 1)}")
                    for lv in range(_HIER_LEVELS)
                ]
            )
        ).alias("lvl0", "family"),
    )
    return (
        anc.groupBy((F.col("lvl0") + 1).cast("int").alias("level"), "family")
        .agg(
            F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


_PART_FAMILY_SQL = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY 1
),
lv AS (SELECT unnest(range(1, {_HIER_LEVELS} + 1)) AS level),
anc AS (
  SELECT CAST(lv.level AS INT) AS level,
         l_partkey // CAST(power(10, lv.level) AS BIGINT) AS family,
         l_partkey, cents
  FROM per_part, lv
)
SELECT level, family,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM anc GROUP BY 1, 2
"""


_KANON_K = 5
_KANON_BAL_BUCKET = 50_000  # $500 account-balance buckets (cents)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the privacy gate a dataset passes BEFORE
    release (pii_redact scrubs direct identifiers; THIS measures
    re-identification risk from QUASI-identifiers): customers are
    grouped into equivalence classes on (nation, market segment, $500
    account-balance bucket), and the audit reports how many classes —
    and how many ROWS — fall below k={k} (Sweeney's k-anonymity
    criterion: any class smaller than k makes its members linkable).

    Exactness: the bucket is integer floor division of exact cents;
    class sizes and every audit number are exact BIGINTs from one
    groupBy + one summary aggregate — no float anywhere.

    Scale: one scan, one (quasi-id) groupBy whose shuffle carries
    O(classes) rows after map-side combine, one scalar summary — the
    audit costs one aggregation pass no matter the corpus size. The
    remediation loop (generalize buckets / suppress violators) reruns
    this same query with coarser buckets until n_rows_at_risk hits 0."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            f"cast(round(c_acctbal * 100) as bigint) div {_KANON_BAL_BUCKET}"
        ).alias("bal_bucket"),
    )
    classes = c.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return classes.agg(
        F.lit(_KANON_K).cast("int").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum((F.col("sz") < _KANON_K).cast("long")).cast("bigint").alias(
            "n_violating_classes"
        ),
        F.sum(F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("sz").cast("bigint").alias("min_class_size"),
        F.sum("sz").cast("bigint").alias("n_rows"),
    )


q_k_anonymity.__doc__ = q_k_anonymity.__doc__.format(k=_KANON_K)

_KANON_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) // {_KANON_BAL_BUCKET}
           AS bal_bucket,
         CAST(count(*) AS BIGINT) AS sz
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT CAST({_KANON_K} AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(min(sz) AS BIGINT) AS min_class_size,
       CAST(sum(sz) AS BIGINT) AS n_rows
FROM classes
"""


_RFM_ANCHOR = "2002-01-01"  # first day after the orders date domain


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintile scores within each market segment, rolled up to segment ×
    RFM-label counts (the classic CRM cube; cohort_ltv slices by time,
    this slices by behavior). Recency = days from the customer's last
    order to a fixed anchor just past the date domain; frequency =
    exact order count; monetary = exact cents. Each score is NTILE(5)
    over (metric, c_custkey) — a TOTAL order, so the quotient+remainder
    group assignment is deterministic and engine-identical (remainder
    semantics pytest-pinned); 5 = best on all three axes.

    Exactness: metrics are integers (days via date arithmetic on
    midnight-aligned order dates, BIGINT count and cents); NTILE needs
    no arithmetic at all — the output is pure integer labels + BIGINT
    rollups, zero float.

    Scale: orders pre-aggregate to ONE row per customer FIRST (the
    fact-scan shuffle is the per-customer groupBy), so the three NTILE
    windows walk the customer DIMENSION within each segment — never
    fact rows. All three share one partition key: one shuffle, three
    in-partition sorts. A dimension too large for per-segment sorts
    quantizes each metric first (the weighted_quantiles_binned tier)
    and scores by broadcast bin-boundary comparison instead."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.groupBy("o_custkey")
        .agg(
            F.datediff(F.lit(_RFM_ANCHOR).cast("date"), F.max("d")).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .join(c, F.col("o_custkey") == c.c_custkey)
    )
    seg = Window.partitionBy("c_mktsegment")
    r = F.ntile(5).over(seg.orderBy(F.col("recency_days").desc(), "c_custkey"))
    f = F.ntile(5).over(seg.orderBy(F.col("n_orders").asc(), "c_custkey"))
    mo = F.ntile(5).over(seg.orderBy(F.col("cents").asc(), "c_custkey"))
    return (
        m.select(
            "c_mktsegment",
            "cents",
            (r * 100 + f * 10 + mo).cast("int").alias("rfm"),
        )
        .groupBy("c_mktsegment", "rfm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


_RFM_SQL = """
WITH m AS (
  SELECT c_custkey, c_mktsegment,
         date_diff('day', CAST(max(o_orderdate) AS DATE),
                   DATE '2002-01-01') AS recency_days,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), s AS (
  SELECT c_mktsegment, cents,
         ntile(5) OVER (PARTITION BY c_mktsegment
                        ORDER BY recency_days DESC, c_custkey) AS r,
         ntile(5) OVER (PARTITION BY c_mktsegment
                        ORDER BY n_orders, c_custkey) AS f,
         ntile(5) OVER (PARTITION BY c_mktsegment
                        ORDER BY cents, c_custkey) AS mo
  FROM m
)
SELECT c_mktsegment, CAST(r * 100 + f * 10 + mo AS INT) AS rfm,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM s GROUP BY 1, 2
"""


def q_chi2_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment 2×2 chi-squared independence test — the A/B-readout
    member of the drift/monitoring family (drift_psi asks "did the mix
    move", this asks "does the treatment arm differ"): users split into
    arms by ``user_id % 2``, success = ``value > 50``, one test per
    event_type with Yates-free χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d))
    and the df=1 α=0.05 significance cut (3.841).

    Exactness: the four cells are exact BIGINTs from ONE conditional-sum
    groupBy; the marginal products stay in BIGINT (≤ ~1.6e17 at sf0.1 —
    inside int64); only the final statistic is float — a FIXED-ORDER
    chain ``((x·x)·N)/den`` over exactly-equal inputs, identical IEEE
    ops in both engines (the (ad−bc)² term can exceed 2^53, so it is
    computed as double x·x from the exact int difference — the same
    correctly-rounded conversion on both sides). Zero marginals yield
    NULL via an explicit CASE, not an engine-specific div-by-zero.

    Scale: one scan, one |segments|-group agg — the cheapest possible
    experiment readout; nothing else touches the corpus."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.sum(((F.col("user_id") % 2 == 1) & (F.col("value") > 50)).cast("long"))
        .cast("bigint")
        .alias("a"),
        F.sum(((F.col("user_id") % 2 == 1) & ~(F.col("value") > 50)).cast("long"))
        .cast("bigint")
        .alias("b"),
        F.sum(((F.col("user_id") % 2 == 0) & (F.col("value") > 50)).cast("long"))
        .cast("bigint")
        .alias("c"),
        F.sum(((F.col("user_id") % 2 == 0) & ~(F.col("value") > 50)).cast("long"))
        .cast("bigint")
        .alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    den = (
        (F.col("a") + F.col("b"))
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    )
    x = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    chi2 = F.when(
        den > 0, F.round(x * x * n.cast("double") / den.cast("double"), 4)
    )
    return g.select(
        "event_type",
        "a",
        "b",
        "c",
        "d",
        chi2.alias("chi2"),
        (chi2 > 3.841).alias("significant"),
    )


def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of ``events`` — null count, null
    rate, and exact distinct cardinality for every column, long-form
    (the schema-drift / ingest-contract check a pipeline runs before
    trusting a new drop; melt_metrics reshapes values, this profiles
    the columns themselves).

    Exactness: counts are exact BIGINTs from ONE wide aggregate;
    null_rate is one fixed-order BIGINT division rounded 4 dp. The
    wide→long flip is a ``stack`` over the 1-row aggregate — six
    literal rows, no second scan.

    Scale: one pass; the multi-column exact ``countDistinct`` plans one
    Expand (rows × columns-profiled) — the documented cost of EXACT
    cardinalities; at 100 TB swap in ``approx_count_distinct`` per
    column and the Expand disappears (the HLL tier this profile's
    exact twin grades)."""
    e = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).cast("bigint").alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).cast("bigint").alias(f"nd_{c}"))
    wide = e.agg(*aggs)
    stack = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    long = wide.selectExpr(
        "n_rows", f"stack({len(cols)}, {stack}) AS (col, n_non_null, n_distinct)"
    )
    return long.select(
        "col",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).cast("bigint").alias("n_null"),
        F.round(
            (F.col("n_rows") - F.col("n_non_null")) / F.col("n_rows"), 4
        ).alias("null_rate"),
        "n_distinct",
    )


def q_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphan counts and rates for the four
    FK edges of the schema (lineitem→orders, lineitem→part,
    lineitem→supplier, orders→customer): the load-contract check a
    warehouse runs after every ingest, completing the data-quality tier
    next to null_profile (columns) and skew_profile (keys).

    Mechanics: lineitem's three edges share ONE scan — three broadcast
    LEFT joins attach a match flag each, one aggregate counts the
    misses; orders→customer is its own single-scan chain. NULL FK values
    count as orphans (a NULL reference dangles by definition).

    Exactness: counts exact BIGINT; rate one fixed-order division
    rounded 4 dp. The fixture satisfies all four constraints, so the
    orphan branch is pinned by the planted pytest instead (the
    pii_redact convention for clean-fixture paths).

    Scale: parents project to their key column before the broadcast
    (8 bytes/row); a parent too big to broadcast flips to a shuffle
    LEFT join on the key — the audit stays one pass per child table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    ok = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), F.lit(1).alias("__ok")
    )
    pk = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.lit(1).alias("__pk")
    )
    sk = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), F.lit(1).alias("__sk")
    )
    li_flags = (
        li.join(F.broadcast(ok), "l_orderkey", "left")
        .join(F.broadcast(pk), "l_partkey", "left")
        .join(F.broadcast(sk), "l_suppkey", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("__ok").isNull().cast("long")).cast("bigint").alias("o_ord"),
            F.sum(F.col("__pk").isNull().cast("long")).cast("bigint").alias("o_prt"),
            F.sum(F.col("__sk").isNull().cast("long")).cast("bigint").alias("o_sup"),
        )
    )
    li_long = li_flags.selectExpr(
        "n",
        "stack(3, 'lineitem->orders', o_ord, 'lineitem->part', o_prt, "
        "'lineitem->supplier', o_sup) AS (relation, n_orphans)",
    )
    od = load_table(spark, sf_dir, "orders").select("o_custkey")
    ck = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("__ck")
    )
    od_row = (
        od.join(F.broadcast(ck), "o_custkey", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("__ck").isNull().cast("long")).cast("bigint").alias("n_orphans"),
        )
        .select("n", F.lit("orders->customer").alias("relation"), "n_orphans")
    )
    return li_long.unionByName(od_row).select(
        "relation",
        F.col("n").alias("n_child"),
        "n_orphans",
        F.round(F.col("n_orphans") / F.col("n"), 4).alias("orphan_rate"),
    )


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier↔customer trade graph — the
    data-profile member of the graph tier (pagerank ranks nodes,
    triangle_count measures closure, THIS asks what the graph even
    looks like: is it power-law, is there a hub that will make the
    next join skew): per-node degree over the same symmetrized edge
    list as pagerank, log₂-bucketed via ``length(bin(degree))`` — an
    exact integer both engines compute identically, no float log.

    Output per bucket: node count, total and max degree (the skew
    pre-flight numbers — max_deg IS the hot-row bound of any
    edges⋈nodes join).

    Scale: one distinct pair shuffle + one degree groupBy + a
    ≤64-bucket agg; the same first two stages every graph query here
    already pays."""
    # both union branches read it — without the checkpoint each re-runs
    # the lineitem⋈orders distinct (the triangle_count lesson)
    pairs = _trade_pairs(spark, sf_dir).localCheckpoint(eager=True)
    edges = pairs.select(F.col("a").alias("src")).unionByName(
        pairs.select(F.col("b").alias("src"))
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    return (
        deg.select(
            F.length(F.bin("deg")).cast("int").alias("deg_bucket"), "deg"
        )
        .groupBy("deg_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("sum_deg"),
            F.max("deg").cast("bigint").alias("max_deg"),
        )
    )


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix — the acquisition-quality readout
    behind every growth dashboard (retention_daily asks "did they come
    back tomorrow", this asks "what is each signup vintage worth over
    time"): customers cohort by the month of their FIRST order; every
    order lands in (cohort_month, months_since_cohort) with active
    customers, order count, and exact revenue cents.

    Exactness: cents are exact BIGINTs; months_since is
    ``months_between`` of two month-TRUNCATED timestamps — an exact
    integer by construction on both engines (DuckDB: datediff). The
    day-as-truncated-TIMESTAMP convention (retention_daily) applies.

    Scale: one customer groupBy for the cohort map (customer-sized —
    at 100 TB a dimension join, not a broadcast; here AQE broadcasts
    it), one join back on the customer key, one matrix-sized agg."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cohort_month"))
    return (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort_month",
            F.months_between("m", F.col("cohort_month"))
            .cast("int")
            .alias("months_since"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )


def q_abc_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-brand ABC (Pareto) classification — inventory analytics'
    80/15/5 revenue cut: inside each brand, parts sorted by revenue
    take class A while cumulative revenue is ≤80% of the brand total,
    B to ≤95%, C after; reported per (brand, class) with part count
    and exact revenue cents (skyline_parts finds the per-brand
    frontier, THIS splits the whole catalog by revenue concentration).

    Exactness: revenue and its cumulative are exact BIGINT cents and
    the class cuts are pure-integer inequalities (5·cum ≤ 4·tot for A,
    20·cum ≤ 19·tot for B) — no percentage float anywhere, so the
    class of every part is engine/partitioning-exact. (A part whose
    cumulative crosses the 80% line lands in B — the standard
    convention — with the (revenue desc, partkey) tie-break fixing the
    walk order on both engines.)

    Scale: one part-level revenue agg, ONE brand-partitioned
    cumulative window over parts (the weighted_median posture: the
    window walks parts-per-brand, not lineitems), a brand-sized total
    via the same partition, and a |brands|·3 output agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
        .join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    )
    wc = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("rev").desc(), F.col("p_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("p_brand")
    x = rev.select(
        "p_brand",
        "rev",
        F.sum("rev").over(wc).alias("cum"),
        F.sum("rev").over(wt).alias("tot"),
    )
    cls = F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A").otherwise(
        F.when(20 * F.col("cum") <= 19 * F.col("tot"), "B").otherwise("C")
    )
    return (
        x.select("p_brand", cls.alias("abc_class"), "rev")
        .groupBy("p_brand", "abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("bigint").alias("sum_cents"),
        )
    )


def q_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per nation —
    the market-structure readout (is this nation's supply one giant or
    many smalls) that pairs with skew_profile: HHI = Σ share² over each
    nation's suppliers, in the 0–10,000 antitrust convention.

    Exactness trick: HHI = Σ rev_i² / (Σ rev_i)² needs no per-share
    floats — both moments are exact BIGINT sums (revenue in whole
    DOLLARS, ``cents div 100``, keeps Σ rev² ≤ ~3e15 inside int64 at
    sf0.1 ×100 headroom) and the index is ONE fixed-order division
    ×10,000 rounded 4 dp. Sum-of-squared-shares in float would be
    summation-order exposed; this is not.

    Scale: one supplier-revenue groupBy (the corpus shuffle), one
    broadcast dim join, one nation-sized moment agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    su = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.expr("sum(cents) div 100").cast("bigint").alias("rev"))
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
    )
    return rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("rev").cast("bigint").alias("total_rev"),
        F.round(
            10000
            * F.sum(F.col("rev") * F.col("rev")).cast("double")
            / (F.sum("rev") * F.sum("rev")).cast("double"),
            4,
        ).alias("hhi"),
    )


_HHI_SQL = """
WITH rev AS (
  SELECT s_nationkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) // 100
              AS BIGINT) AS rev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, l_suppkey
)
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(rev) AS BIGINT) AS total_rev,
       round(10000 * CAST(sum(rev * rev) AS DOUBLE)
             / CAST(sum(rev) * sum(rev) AS DOUBLE), 4) AS hhi
FROM rev GROUP BY s_nationkey
"""


def q_late_shipment_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment SLA tracking per order month: lineitems shipping
    more than 90 days after their order date count as late — the
    operations cousin of backlog_monthly (that tracks the open balance,
    this tracks how late the closes were).

    Exactness: lateness is an integer day difference (datediff of two
    timestamps both engines truncate identically), counts exact BIGINT,
    rate one fixed-order division rounded 4 dp.

    Scale: one orderkey hash join (the fact⋈fact spine every TPC-H
    query pays) + one month agg."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.datediff("l_shipdate", "o_orderdate") > 90).alias("late"),
    )
    return j.groupBy("month_start").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("late").cast("long")).cast("bigint").alias("n_late"),
        F.round(
            F.sum(F.col("late").cast("long")) / F.count(F.lit(1)), 4
        ).alias("late_rate"),
    )


_LATE_SHIP_SQL = """
SELECT date_trunc('month', o_orderdate) AS month_start,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       round(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
                      THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
         AS late_rate
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


_ABC_SQL = """
WITH rev AS (
  SELECT p_brand, p_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), x AS (
  SELECT p_brand, rev,
         CAST(sum(rev) OVER (PARTITION BY p_brand
                             ORDER BY rev DESC, p_partkey ASC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(rev) OVER (PARTITION BY p_brand) AS BIGINT) AS tot
  FROM rev
)
SELECT p_brand,
       CASE WHEN 5 * cum <= 4 * tot THEN 'A'
            WHEN 20 * cum <= 19 * tot THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS sum_cents
FROM x GROUP BY 1, 2
"""


_COHORT_LTV_SQL = """
WITH o AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), first AS (
  SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY 1
)
SELECT cohort_month,
       CAST(datediff('month', cohort_month, m) AS INTEGER) AS months_since,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM o JOIN first ON o.o_custkey = first.o_custkey
GROUP BY 1, 2
"""


_DEGREE_HIST_SQL = """
WITH pairs AS (
  SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), ends AS (
  SELECT a AS src FROM pairs UNION ALL SELECT b FROM pairs
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ends GROUP BY src
)
SELECT CAST(length(bin(deg)) AS INTEGER) AS deg_bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(deg) AS BIGINT) AS sum_deg,
       CAST(max(deg) AS BIGINT) AS max_deg
FROM deg GROUP BY 1
"""


_REF_INTEGRITY_SQL = """
WITH li AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_ord,
         CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_prt,
         CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_sup
  FROM lineitem l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN part p ON l.l_partkey = p.p_partkey
  LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
), od AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
), longform AS (
  SELECT 'lineitem->orders' AS relation, n, o_ord AS n_orphans FROM li
  UNION ALL SELECT 'lineitem->part', n, o_prt FROM li
  UNION ALL SELECT 'lineitem->supplier', n, o_sup FROM li
  UNION ALL SELECT 'orders->customer', n, n_orphans FROM od
)
SELECT relation, n AS n_child, n_orphans,
       round(n_orphans / CAST(n AS DOUBLE), 4) AS orphan_rate
FROM longform
"""


_NULL_PROFILE_SQL = """
WITH w AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(event_id) AS BIGINT) AS nn_event_id,
         CAST(count(DISTINCT event_id) AS BIGINT) AS nd_event_id,
         CAST(count(ts) AS BIGINT) AS nn_ts,
         CAST(count(DISTINCT ts) AS BIGINT) AS nd_ts,
         CAST(count(user_id) AS BIGINT) AS nn_user_id,
         CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user_id,
         CAST(count(event_type) AS BIGINT) AS nn_event_type,
         CAST(count(DISTINCT event_type) AS BIGINT) AS nd_event_type,
         CAST(count(value) AS BIGINT) AS nn_value,
         CAST(count(DISTINCT value) AS BIGINT) AS nd_value,
         CAST(count(props) AS BIGINT) AS nn_props,
         CAST(count(DISTINCT props) AS BIGINT) AS nd_props
  FROM events
)
SELECT u.col, w.n_rows,
       CAST(w.n_rows - u.n_non_null AS BIGINT) AS n_null,
       round((w.n_rows - u.n_non_null) / CAST(w.n_rows AS DOUBLE), 4)
         AS null_rate,
       u.n_distinct
FROM w, LATERAL (
  VALUES ('event_id', nn_event_id, nd_event_id),
         ('ts', nn_ts, nd_ts),
         ('user_id', nn_user_id, nd_user_id),
         ('event_type', nn_event_type, nd_event_type),
         ('value', nn_value, nd_value),
         ('props', nn_props, nd_props)
) AS u(col, n_non_null, n_distinct)
"""


_CHI2_SQL = """
WITH g AS (
  SELECT event_type,
    CAST(sum(CASE WHEN user_id % 2 = 1 AND value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN user_id % 2 = 1 AND NOT (value > 50) THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN user_id % 2 = 0 AND value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN user_id % 2 = 0 AND NOT (value > 50) THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM events GROUP BY event_type
), s AS (
  SELECT *,
         (a + b) * (c + d) * (a + c) * (b + d) AS den,
         CAST(a * d - b * c AS DOUBLE) AS x,
         CAST(a + b + c + d AS DOUBLE) AS nn
  FROM g
)
SELECT event_type, a, b, c, d,
       CASE WHEN den > 0 THEN round(x * x * nn / CAST(den AS DOUBLE), 4) END AS chi2,
       CASE WHEN den > 0
            THEN round(x * x * nn / CAST(den AS DOUBLE), 4) > 3.841 END AS significant
FROM s
"""


_WEIGHTED_MEDIAN_SQL = """
WITH g AS (
  SELECT s_nationkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), x AS (
  SELECT s_nationkey, cents,
         CAST(sum(w) OVER (PARTITION BY s_nationkey ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
         CAST(sum(w) OVER (PARTITION BY s_nationkey) AS BIGINT) AS W
  FROM g
)
SELECT s_nationkey, CAST(min(cents) AS BIGINT) AS median_cents,
       CAST(max(W) AS BIGINT) AS total_qty
FROM x WHERE 2 * cumw >= W
GROUP BY s_nationkey
"""


# bin width 500 and pcts (25,50,75,90) mirror _WQB_BIN_CENTS/_WQB_PCTS
_WEIGHTED_QUANTILES_BINNED_SQL = """
WITH g AS (
  SELECT s_nationkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) // 500 AS bin,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), x AS (
  SELECT s_nationkey, bin,
         CAST(sum(w) OVER (PARTITION BY s_nationkey ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
         CAST(sum(w) OVER (PARTITION BY s_nationkey) AS BIGINT) AS W
  FROM g
), p AS (SELECT CAST(unnest([25, 50, 75, 90]) AS INTEGER) AS pct)
SELECT x.s_nationkey, p.pct AS pct,
       CAST(min(x.bin) * 500 + 250 AS BIGINT) AS value_cents
FROM x CROSS JOIN p
WHERE 100 * x.cumw >= p.pct * x.W
GROUP BY 1, 2
"""


_BASKET_PAIRS_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (
  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM items
), sup AS (
  SELECT b, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY b
), co AS (
  SELECT a.b AS brand_a, c.b AS brand_b, CAST(count(*) AS BIGINT) AS n_co
  FROM items a JOIN items c ON a.ok = c.ok AND a.b < c.b
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_co, sa.sup AS sup_a, sb.sup AS sup_b,
       round((n_co * n_baskets) / (sa.sup * sb.sup), 4) AS lift
FROM co
JOIN sup sa ON co.brand_a = sa.b
JOIN sup sb ON co.brand_b = sb.b
CROSS JOIN n
"""


def q_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient + top-decile share of customer spend per market
    segment — the INEQUALITY readout that completes the concentration
    trio: market_hhi asks "how concentrated are the sellers",
    abc_by_brand asks "which items carry the revenue", THIS asks "how
    unequal are the buyers" (whale-dependence is the retention-risk
    number a revenue team tracks).

    Exactness trick: with spend ranked ascending and i = row_number,
    Gini = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) — numerator and denominator
    are EXACT BIGINT (spend in whole dollars, ``cents div 100``;
    Σ i·x ≤ n·Σx ≈ 1.4e13 per segment at sf0.1, ×100 headroom), so the
    coefficient is ONE fixed-order division rounded 4 dp. Equal-spend
    permutations cannot move Σ i·xᵢ, so the (rev, custkey) tie-break
    makes ranks deterministic without affecting the statistic. The
    top-decile cut (i > n − n div 10) is exact integer arithmetic; for
    n < 10 it is the empty set and the share is 0 in both engines.
    Customers with no orders never enter (inner join) — this is
    inequality among ACTIVE buyers.

    Scale: one orders shuffle collapses to per-customer spend, then a
    broadcast dim join and ONE window shuffle partitioned by segment.
    Per-segment rank needs the segment's customers in one task — fine
    while customers stay dimension-sized; at billions of buyers the
    scale path is binned Gini over the Lorenz curve (quantize spend to
    K buckets exactly as weighted_quantiles_binned does, rank bucket
    aggregates instead of rows — error ≤ 1/K), and the BIGINT numerator
    would move to DECIMAL(38) first (n·Σx crosses int64 near n≈3e6 per
    segment at this fixture's spend)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    rev = o.groupBy("o_custkey").agg(
        F.expr("sum(cents) div 100").cast("bigint").alias("rev")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = rev.join(F.broadcast(c), rev.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "rev", "o_custkey"
    )
    wseg = Window.partitionBy("segment")
    ranked = j.select(
        "segment",
        "rev",
        F.row_number()
        .over(wseg.orderBy("rev", "o_custkey"))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1)).over(wseg).cast("bigint").alias("n"),
    )
    top_cut = F.col("i") > F.col("n") - F.expr("n div 10")
    # a segment of all-zero-dollar buyers has no defined inequality:
    # NULL in both engines (ANSI division would throw, IEEE would NaN)
    return ranked.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.sum("rev").cast("bigint").alias("total_rev"),
        F.when(F.sum("rev") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (
                    2 * F.sum(F.col("i") * F.col("rev"))
                    - (F.max("n") + 1) * F.sum("rev")
                ).cast("double")
                / (F.max("n") * F.sum("rev")).cast("double"),
                4,
            )
        )
        .alias("gini"),
        F.when(F.sum("rev") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.sum(F.when(top_cut, F.col("rev")).otherwise(F.lit(0))).cast(
                    "double"
                )
                / F.sum("rev").cast("double"),
                4,
            )
        )
        .alias("top_decile_share"),
    )


_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100
              AS BIGINT) AS rev
  FROM orders GROUP BY 1
), ranked AS (
  SELECT c_mktsegment AS segment, rev,
         CAST(row_number() OVER (PARTITION BY c_mktsegment
                                 ORDER BY rev, o_custkey) AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
  FROM rev JOIN customer ON o_custkey = c_custkey
)
SELECT segment,
       CAST(max(n) AS BIGINT) AS n_customers,
       CAST(sum(rev) AS BIGINT) AS total_rev,
       CASE WHEN sum(rev) = 0 THEN NULL ELSE
         round(CAST(2 * sum(i * rev) - (max(n) + 1) * sum(rev) AS DOUBLE)
               / CAST(max(n) * sum(rev) AS DOUBLE), 4) END AS gini,
       CASE WHEN sum(rev) = 0 THEN NULL ELSE
         round(CAST(sum(CASE WHEN i > n - n // 10 THEN rev ELSE 0 END)
                    AS DOUBLE) / CAST(sum(rev) AS DOUBLE), 4) END
         AS top_decile_share
FROM ranked GROUP BY 1
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape (suppliers who kept orders waiting), decorrelated —
    the classic EXISTS + NOT EXISTS pair on the same fact table: suppliers
    whose line shipped >60 days after the order date, in multi-supplier
    orders where NO OTHER supplier was late (so the blame is unambiguous).
    The correlated form needs two more fact probes; this rewrite folds both
    quantifiers into ONE per-order aggregate — n_supp ≥ 2 supplies the
    EXISTS (another supplier), n_late_supp = 1 supplies the NOT EXISTS
    (no other late supplier), and max(late suppkey) is then well-defined.

    Exactness: pure timestamp comparison + BIGINT counts; no floats.

    Scale: one orderkey shuffle join (both sides fact — no broadcast), one
    per-order partial+final agg on the SAME key (AQE can reuse the
    exchange), one supplier-count-bounded groupBy, broadcast supplier dim,
    TakeOrderedAndProject top-20 (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(
                F.when(F.col("late"), F.col("l_suppkey"))
            ).alias("n_late_supp"),
            F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
        )
    )
    waits = (
        per_order.where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy(F.col("late_supp").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waits.join(F.broadcast(s), "s_suppkey")
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


_WAITING_SUPPLIERS_SQL = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp,
         max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
  FROM lo GROUP BY 1
), waits AS (
  SELECT late_supp AS s_suppkey, CAST(count(*) AS BIGINT) AS numwait
  FROM per_order WHERE n_supp >= 2 AND n_late_supp = 1
  GROUP BY 1
)
SELECT s_suppkey, s_name, numwait
FROM waits JOIN supplier USING (s_suppkey)
ORDER BY numwait DESC, s_suppkey LIMIT 20
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's shape (promising-but-idle accounts): customers whose
    balance sits STRICTLY above their market segment's average positive
    balance, yet who placed no order on/after 2001-01-01 (the final seven
    months of the fixture's 1995-2001 order span) — the outreach list,
    rolled up per segment. The correlated scalar subquery (per-segment
    average) is decorrelated into a segment window; the NOT EXISTS is a
    left-anti join against the date-filtered orders.

    Exactness: the above-average cut clears the denominator —
    cents·n_pos > sum_pos is PURE BIGINT (no float average ever computed);
    the reported avg_bal is ONE division rounded 2 dp.

    Scale: customer scanned once (segment window — one shuffle over the
    dimension), orders scan with the date predicate PUSHED DOWN feeding a
    key-only anti join, one |segments|-group agg."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    wseg = Window.partitionBy("c_mktsegment")
    pos = F.when(F.col("cents") > 0, F.col("cents")).otherwise(F.lit(0))
    seg = c.select(
        "c_custkey",
        "c_mktsegment",
        "cents",
        F.sum(pos).over(wseg).cast("bigint").alias("sum_pos"),
        F.sum((F.col("cents") > 0).cast("long")).over(wseg)
        .cast("bigint")
        .alias("n_pos"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    idle = seg.where(
        F.col("cents") * F.col("n_pos") > F.col("sum_pos")
    ).join(recent, "c_custkey", "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.round(
            F.sum("cents").cast("double") / (F.lit(100) * F.count(F.lit(1))), 2
        ).alias("avg_bal"),
    )


_IDLE_CUSTOMERS_SQL = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), seg AS (
  SELECT c_custkey, c_mktsegment, cents,
         CAST(sum(CASE WHEN cents > 0 THEN cents ELSE 0 END)
              OVER (PARTITION BY c_mktsegment) AS BIGINT) AS sum_pos,
         CAST(sum(CASE WHEN cents > 0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n_pos
  FROM c
), idle AS (
  SELECT * FROM seg
  WHERE cents * n_pos > sum_pos
    AND c_custkey NOT IN (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2001-01-01')
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_custs,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       round(CAST(sum(cents) AS DOUBLE) / (100 * count(*)), 2) AS avg_bal
FROM idle GROUP BY 1
"""


def q_auc_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC per line status via the Mann-Whitney rank-sum identity
    (Hanley & McNeil 1982): AUC = P(score_pos > score_neg) computed from
    rank sums — label = returned line, score = extended price — the
    standard "can this feature separate the classes?" readout a model-eval
    pipeline runs per slice, WITHOUT materializing pos×neg pairs.

    Exactness: average ranks for ties are handled in HALVES so everything
    stays BIGINT — 2·avg_rank = 2·rank + tie_count − 1 (rank() is the
    min rank of the tie group); the AUC is then ONE division
    (2R − n_pos(n_pos+1)) / (2·n_pos·n_neg) rounded 6 dp.

    Scale: two window passes over the SAME group partition key (one
    shuffle, in-partition sorts) + one |groups|-row agg; no pair join —
    the naive pairwise form is n_pos·n_neg per group."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("g"),
        (F.col("l_returnflag") == "R").cast("int").alias("pos"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("score"),
    )
    ranked = li.select(
        "g",
        "pos",
        (
            F.lit(2) * F.rank().over(Window.partitionBy("g").orderBy("score"))
            + F.count(F.lit(1)).over(Window.partitionBy("g", "score"))
            - F.lit(1)
        )
        .cast("bigint")
        .alias("tar"),
    )
    n_pos = F.sum("pos")
    n_neg = F.count(F.lit(1)) - F.sum("pos")
    r2 = F.sum(F.when(F.col("pos") == 1, F.col("tar")).otherwise(F.lit(0)))
    return ranked.groupBy(F.col("g").alias("l_linestatus")).agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        # single-class slice (no positives or no negatives) -> AUC undefined
        F.when((n_pos == 0) | (n_neg == 0), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (r2 - n_pos * (n_pos + F.lit(1))).cast("double")
                / (F.lit(2) * n_pos * n_neg).cast("double"),
                6,
            )
        )
        .alias("auc"),
    )


_AUC_SQL = """
WITH li AS (
  SELECT l_linestatus AS g,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS score
  FROM lineitem
), ranked AS (
  SELECT g, pos,
         CAST(2 * rank() OVER (PARTITION BY g ORDER BY score)
              + count(*) OVER (PARTITION BY g, score) - 1 AS BIGINT) AS tar
  FROM li
)
SELECT g AS l_linestatus,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(count(*) - sum(pos) AS BIGINT) AS n_neg,
       CASE WHEN sum(pos) = 0 OR count(*) = sum(pos) THEN NULL ELSE
       round(CAST(sum(CASE WHEN pos = 1 THEN tar ELSE 0 END)
                  - sum(pos) * (sum(pos) + 1) AS DOUBLE)
             / CAST(2 * sum(pos) * (count(*) - sum(pos)) AS DOUBLE), 6)
       END AS auc
FROM ranked GROUP BY 1
"""


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of each event type's value against
    the COMPLEMENT (all other types), with the Welch-Satterthwaite degrees
    of freedom — the slice-vs-rest screen an experimentation or data-drift
    pipeline runs over every segment, from ONE corpus pass: per-type
    (n, Σx, Σx²) moments plus the 1-row grand total give the complement's
    moments by subtraction — no second scan, no self-join.

    Exactness: moments are exact BIGINTs on cents (Σx² bounded — cents²
    ≤ ~2.4e9 so the sum stays far under 2^63 through ~10^9 rows/group;
    beyond that, span to DECIMAL); mean/variance/t/df assembly casts each
    exact moment ONCE to double with the IDENTICAL expression tree in both
    engines (the degree_assortativity determinism contract), t rounded
    4 dp, df 2 dp.

    Scale: one |types|-group partial+final agg, localCheckpoint-ed
    (O(|types|) rows; its two consumers would otherwise re-scan the
    corpus) + a 1-row total attached by the model-attach crossJoin
    (allowlisted); output is |types| rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    grp = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
            F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("q"),
        )
        # O(|types|) rows; two consumers (totals fold + the attach) would
        # otherwise each re-execute the corpus scan
        .localCheckpoint(eager=True)
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("s").cast("bigint").alias("ts_"),
        F.sum("q").cast("bigint").alias("tq"),
    )
    j = grp.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "s",
        "q",
        (F.col("tn") - F.col("n")).alias("n2"),
        (F.col("ts_") - F.col("s")).alias("s2"),
        (F.col("tq") - F.col("q")).alias("q2"),
    )
    m1 = F.col("s").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n2")
    v1 = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - F.lit(1))
    v2 = (
        F.col("q2").cast("double")
        - F.col("s2").cast("double") * F.col("s2").cast("double") / F.col("n2")
    ) / (F.col("n2") - F.lit(1))
    se2 = v1 / F.col("n") + v2 / F.col("n2")
    # degenerate slices: a lone type (empty complement), a side too small
    # for a sample variance, or BOTH sides exactly constant. Constancy is
    # tested on the EXACT moments (n·q = s² ⇔ zero variance, Cauchy-Schwarz
    # equality) in DECIMAL(38,0) / HUGEINT — past 2^53 the double-assembled
    # se2 of a constant side can land tiny-nonzero (even negative → NaN t);
    # the se2 <= 0.0 fallback additionally NULLs any cancellation-noise
    # non-positive se2 (identical expression tree in both engines)
    # Past ~1e38 the DECIMAL(38,0) product overflows: ANSI mode (this
    # repo's session default) RAISES, matching DuckDB's HUGEINT error.
    # coalesce(False) pins the non-ANSI configuration, where the product
    # would be NULL and silently fall through `undef` (ADVICE r14):
    # overflow then takes the deterministic double path (usually caught
    # by se2 <= 0.0), never NULL-propagation.
    dec = "decimal(38,0)"
    const1 = F.coalesce(
        F.col("n").cast(dec) * F.col("q").cast(dec)
        == F.col("s").cast(dec) * F.col("s").cast(dec),
        F.lit(False),
    )
    const2 = F.coalesce(
        F.col("n2").cast(dec) * F.col("q2").cast(dec)
        == F.col("s2").cast(dec) * F.col("s2").cast(dec),
        F.lit(False),
    )
    undef = (
        (F.col("n") < 2)
        | (F.col("n2") < 2)
        | (const1 & const2)
        | (se2 <= 0.0)
    )
    return j.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(m1 / 100, 4).alias("mean_val"),
        F.when(undef, F.lit(None).cast("double"))
        .otherwise(F.round((m1 - m2) / F.sqrt(se2), 4))
        .alias("t_welch"),
        F.when(undef, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.pow(se2, 2)
                / (
                    F.pow(v1 / F.col("n"), 2) / (F.col("n") - F.lit(1))
                    + F.pow(v2 / F.col("n2"), 2) / (F.col("n2") - F.lit(1))
                ),
                2,
            )
        )
        .alias("df_welch"),
    )


_WELCH_SQL = """
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
), grp AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS q
  FROM ev GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts_,
         CAST(sum(q) AS BIGINT) AS tq
  FROM grp
), j AS (
  SELECT event_type, n, s, q, tn - n AS n2, ts_ - s AS s2, tq - q AS q2
  FROM grp CROSS JOIN tot
), v AS (
  SELECT event_type, n, n2, s, q, s2, q2,
         CAST(s AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
         (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
           / (n - 1) AS v1,
         (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
           / (n2 - 1) AS v2
  FROM j
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(m1 / 100, 4) + 0.0 AS mean_val,
       -- + 0.0 normalizes IEEE negative zero: DuckDB round keeps the sign
       -- of a tiny negative t (-0.0); Spark's BigDecimal round drops it.
       -- NULL guards: lone type / too-small side / both sides EXACTLY
       -- constant (n·q = s² on the HUGEINT moments — the double se2 of a
       -- constant side can land tiny-nonzero past 2^53) / non-positive
       -- cancellation-noise se2 (identical expression tree both engines)
       CASE WHEN n < 2 OR n2 < 2
              OR (CAST(n AS HUGEINT) * q = CAST(s AS HUGEINT) * s
                  AND CAST(n2 AS HUGEINT) * q2 = CAST(s2 AS HUGEINT) * s2)
              OR v1 / n + v2 / n2 <= 0.0 THEN NULL ELSE
       round((m1 - m2) / sqrt(v1 / n + v2 / n2), 4) + 0.0 END AS t_welch,
       CASE WHEN n < 2 OR n2 < 2
              OR (CAST(n AS HUGEINT) * q = CAST(s AS HUGEINT) * s
                  AND CAST(n2 AS HUGEINT) * q2 = CAST(s2 AS HUGEINT) * s2)
              OR v1 / n + v2 / n2 <= 0.0 THEN NULL ELSE
       round(pow(v1 / n + v2 / n2, 2)
             / (pow(v1 / n, 2) / (n - 1) + pow(v2 / n2, 2) / (n2 - 1)), 2)
       END AS df_welch
FROM v
"""


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Spearman rank correlation (quantity vs discount per return
    flag) — the monotone-association readout that survives outliers and
    nonlinearity where Pearson (corr_cov) does not: rank-transform both
    variables within each group, then Pearson on the ranks.

    Exactness: tie-averaged ranks are carried as 2·avg_rank = 2·rank +
    tie_count − 1 (pure BIGINT — the auc_by_type half-rank trick; the
    constant factor 2 cancels in the correlation); all five rank moments
    are exact BIGINTs (Σ(2r)² ≤ 4n³ — fine under 2^63 to ~10^6 rows/group,
    beyond that span to DECIMAL), and the rho assembly casts each exact
    moment ONCE to double with the identical expression tree in both
    engines, rounded 6 dp; a variable constant within its group (zero
    variance → 0/0) yields NULL via the EXACT min-rank = max-rank test.

    Scale: two rank windows + one tie-count window per variable over the
    SAME group partition key (one shuffle, in-partition sorts) + one
    |groups|-row moment agg; no pair joins (the definitional form is
    n² concordance pairs)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("y"),
    )
    ranked = li.select(
        "g",
        (
            F.lit(2) * F.rank().over(Window.partitionBy("g").orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("g", "x"))
            - F.lit(1)
        )
        .cast("bigint")
        .alias("rx"),
        (
            F.lit(2) * F.rank().over(Window.partitionBy("g").orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("g", "y"))
            - F.lit(1)
        )
        .cast("bigint")
        .alias("ry"),
    )
    m = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx").cast("bigint").alias("sx"),
        F.sum("ry").cast("bigint").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("bigint").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("bigint").alias("sxy"),
        # zero-variance guard, EXACT: a variable is constant within the
        # group iff its tie-averaged rank is (min == max) — no float test
        F.min("rx").cast("bigint").alias("mnx"),
        F.max("rx").cast("bigint").alias("mxx"),
        F.min("ry").cast("bigint").alias("mny"),
        F.max("ry").cast("bigint").alias("mxy"),
    )
    nd = F.col("n").cast("double")
    degenerate = (F.col("mnx") == F.col("mxx")) | (F.col("mny") == F.col("mxy"))
    return m.select(
        F.col("g").alias("l_returnflag"),
        "n",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (nd * F.col("sxy").cast("double")
                 - F.col("sx").cast("double") * F.col("sy").cast("double"))
                / F.sqrt(
                    (nd * F.col("sxx").cast("double")
                     - F.col("sx").cast("double") * F.col("sx").cast("double"))
                    * (nd * F.col("syy").cast("double")
                       - F.col("sy").cast("double") * F.col("sy").cast("double"))
                ),
                6,
            )
        )
        .alias("rho_spearman"),
    )


_SPEARMAN_SQL = """
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(round(l_quantity * 100) AS BIGINT) AS x,
         CAST(round(l_discount * 10000) AS BIGINT) AS y
  FROM lineitem
), ranked AS (
  SELECT g,
         CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
              + count(*) OVER (PARTITION BY g, x) - 1 AS BIGINT) AS rx,
         CAST(2 * rank() OVER (PARTITION BY g ORDER BY y)
              + count(*) OVER (PARTITION BY g, y) - 1 AS BIGINT) AS ry
  FROM li
), m AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx * rx) AS BIGINT) AS sxx,
         CAST(sum(ry * ry) AS BIGINT) AS syy,
         CAST(sum(rx * ry) AS BIGINT) AS sxy,
         CAST(min(rx) AS BIGINT) AS mnx, CAST(max(rx) AS BIGINT) AS mxx,
         CAST(min(ry) AS BIGINT) AS mny, CAST(max(ry) AS BIGINT) AS mxy
  FROM ranked GROUP BY 1
)
SELECT g AS l_returnflag, n,
       CASE WHEN mnx = mxx OR mny = mxy THEN NULL ELSE
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
       END AS rho_spearman
FROM m
"""


def q_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the bipartite trade graph — supplier pairs
    scored by their SHARED CUSTOMERS: common-neighbor count, Jaccard
    overlap, and the Resource-Allocation index (Zhou-Lü-Zhang 2009 —
    Adamic-Adar's stronger sibling that weights each shared neighbor by
    1/degree, so promiscuous customers count for less). Top-30 candidate
    pairs = the "suppliers who serve the same accounts" market-structure /
    recommendation readout.

    Exactness: RA is carried in EXACT micro-units — Σ floor(1e6 / deg_c)
    is pure integer arithmetic (1/ln(deg) would ride each engine's libm);
    Jaccard is ONE division rounded 5 dp; everything else BIGINT.

    Scale: pair generation is blocked BY CUSTOMER — fan-out per customer
    is (supplier-degree choose 2), never |edges|² (the triangle_count /
    basket_pairs bound); the edge list is localCheckpoint-ed (four
    consumers), supplier-degree attaches broadcast (supplier-dim-bounded),
    customer-degree attach is a plain key join AQE can skew-split; a
    promiscuous-customer cap (drop c with deg above a threshold) is the
    standard lever when the hot-key fan-out bites — RA already discounts
    those neighbors to ~0, so the cap loses almost nothing."""
    # r18 (guide §2.4): ONE exchange keyed on the blocking key feeds the
    # whole pre-pair pipeline. hash(c) partitioning satisfies the (c, s)
    # dedup's clustering, is preserved through the checkpoint, and is
    # reused by the customer-degree agg, the degree attach AND both pair
    # self-join sides — previously each of those planned its own shuffle.
    e = (
        pin_fanout(_trade_lines(spark, sf_dir), "c")
        .dropDuplicates(["c", "s"])
        .localCheckpoint(eager=True)
    )
    # RA term precomputed per CUSTOMER row (O(|customers|) floor-divs)
    # instead of per candidate pair row (O(Σ deg²) of them) — same integer
    # expression, so every summed value is identical
    cdeg = e.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("cd"))
    sdeg = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("sd"))
    inv = cdeg.select("c", F.floor(F.lit(1000000) / F.col("cd")).alias("ra_c"))
    a = e.join(inv, "c").alias("a")
    pairs = a.join(
        e.select("c", "s").alias("b"),
        (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")),
    ).select(
        F.col("a.s").alias("s1"), F.col("b.s").alias("s2"), F.col("a.ra_c").alias("ra_c")
    )
    scored = (
        pairs.groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("ra_c").cast("bigint").alias("ra_micro"),
        )
    )
    d1 = sdeg.select(F.col("s").alias("s1"), F.col("sd").alias("sd1"))
    d2 = sdeg.select(F.col("s").alias("s2"), F.col("sd").alias("sd2"))
    return (
        scored.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("sd1") + F.col("sd2") - F.col("n_common")),
                5,
            ).alias("jaccard"),
            "ra_micro",
        )
        .orderBy(F.col("n_common").desc(), "s1", "s2")
        .limit(30)
    )


_RESOURCE_ALLOC_SQL = """
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), cdeg AS (
  SELECT c, CAST(count(*) AS BIGINT) AS cd FROM e GROUP BY 1
), sdeg AS (
  SELECT s, CAST(count(*) AS BIGINT) AS sd FROM e GROUP BY 1
), pairs AS (
  SELECT a.s AS s1, b.s AS s2, a.c AS c
  FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
), scored AS (
  SELECT s1, s2,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(1000000 // cd) AS BIGINT) AS ra_micro
  FROM pairs JOIN cdeg USING (c)
  GROUP BY 1, 2
)
SELECT s1, s2, n_common,
       round(CAST(n_common AS DOUBLE) / (d1.sd + d2.sd - n_common), 5)
         AS jaccard,
       ra_micro
FROM scored
JOIN sdeg d1 ON s1 = d1.s
JOIN sdeg d2 ON s2 = d2.s
ORDER BY n_common DESC, s1, s2 LIMIT 30
"""


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the bipartite trade graph — two
    3-hop walks from every supplier (s→c→s→c), the DeepWalk / node2vec
    CORPUS-PREP mechanism (Perozzi et al. KDD'14): walks become the
    "sentences" a graph-embedding model trains on. Neighbor choice is a
    pure integer hash of (current node, walk, step) mod degree over a
    row_number-indexed adjacency list — fully deterministic, partition-
    independent, and replayable (the seeded-hash sampling convention of
    sample_mod/weighted_sample applied to graph steps).

    Exactness: the LCG-style mix (node·1103515245 + walk·12345 +
    step·2531011) mod 2^31 is PURE BIGINT in both engines; no RNG state.

    Scale: per hop ONE hash join on the node key against the indexed
    adjacency (deg-row fan-out filtered to the one picked neighbor — the
    Pregel gather shape); the edge list is localCheckpoint-ed (both
    adjacency directions + starts read it); walks×hops rows total, output
    2·|suppliers|."""
    e = _trade_lines(spark, sf_dir).distinct().localCheckpoint(eager=True)
    adj_sc = e.select(
        F.col("s").alias("node"),
        F.col("c").alias("nbr"),
        F.row_number()
        .over(Window.partitionBy("s").orderBy("c"))
        .cast("bigint")
        .alias("idx"),
        F.count(F.lit(1))
        .over(Window.partitionBy("s"))
        .cast("bigint")
        .alias("deg"),
    )
    adj_cs = e.select(
        F.col("c").alias("node"),
        F.col("s").alias("nbr"),
        F.row_number()
        .over(Window.partitionBy("c").orderBy("s"))
        .cast("bigint")
        .alias("idx"),
        F.count(F.lit(1))
        .over(Window.partitionBy("c"))
        .cast("bigint")
        .alias("deg"),
    )
    frontier = (
        e.select("s")
        .distinct()
        .select(
            F.col("s").alias("s0"),
            F.explode(F.array(F.lit(0), F.lit(1))).alias("w_int"),
        )
        .select("s0", F.col("w_int").cast("bigint").alias("w"))
        .withColumn("cur", F.col("s0"))
    )
    hop_names: list[str] = []
    for step, adj, hop_name in (
        (1, adj_sc, "hop1_c"),
        (2, adj_cs, "hop2_s"),
        (3, adj_sc, "hop3_c"),
    ):
        a = adj.alias(f"a{step}")
        h = F.pmod(
            F.col("cur") * F.lit(1103515245)
            + F.col("w") * F.lit(12345)
            + F.lit(step) * F.lit(2531011),
            F.lit(2147483648),
        )
        frontier = (
            frontier.join(
                a,
                (F.col(f"a{step}.node") == F.col("cur"))
                & (F.col(f"a{step}.idx") == F.pmod(h, F.col(f"a{step}.deg")) + 1),
            )
            .select(
                "s0",
                "w",
                *hop_names,
                F.col(f"a{step}.nbr").alias(hop_name),
            )
            .withColumn("cur", F.col(hop_name))
        )
        hop_names.append(hop_name)
    return frontier.select(
        F.col("s0").alias("start_s"),
        F.col("w").alias("walk"),
        "hop1_c",
        "hop2_s",
        "hop3_c",
        F.concat_ws(
            ">",
            F.col("s0").cast("string"),
            F.col("hop1_c").cast("string"),
            F.col("hop2_s").cast("string"),
            F.col("hop3_c").cast("string"),
        ).alias("path"),
    ).orderBy("start_s", "walk")


_RANDOM_WALKS_SQL = """
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), adj_sc AS (
  SELECT s, c,
         CAST(row_number() OVER (PARTITION BY s ORDER BY c) AS BIGINT) AS idx,
         CAST(count(*) OVER (PARTITION BY s) AS BIGINT) AS deg
  FROM e
), adj_cs AS (
  SELECT c, s,
         CAST(row_number() OVER (PARTITION BY c ORDER BY s) AS BIGINT) AS idx,
         CAST(count(*) OVER (PARTITION BY c) AS BIGINT) AS deg
  FROM e
), walks AS (
  SELECT s AS s0, w
  FROM (SELECT DISTINCT s FROM e) CROSS JOIN (VALUES (0), (1)) t(w)
), st1 AS (
  SELECT s0, w, a.c AS c1
  FROM walks JOIN adj_sc a
    ON a.s = s0
   AND a.idx = ((s0 * 1103515245 + w * 12345 + 1 * 2531011)
                % 2147483648) % a.deg + 1
), st2 AS (
  SELECT s0, w, c1, a.s AS s2
  FROM st1 JOIN adj_cs a
    ON a.c = c1
   AND a.idx = ((c1 * 1103515245 + w * 12345 + 2 * 2531011)
                % 2147483648) % a.deg + 1
), st3 AS (
  SELECT s0, w, c1, s2, a.c AS c3
  FROM st2 JOIN adj_sc a
    ON a.s = s2
   AND a.idx = ((s2 * 1103515245 + w * 12345 + 3 * 2531011)
                % 2147483648) % a.deg + 1
)
SELECT s0 AS start_s, CAST(w AS BIGINT) AS walk,
       c1 AS hop1_c, s2 AS hop2_s, c3 AS hop3_c,
       CAST(s0 AS VARCHAR) || '>' || CAST(c1 AS VARCHAR) || '>'
         || CAST(s2 AS VARCHAR) || '>' || CAST(c3 AS VARCHAR) AS path
FROM st3
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location per return flag: the 10% TRIMMED mean (drop the
    k = ⌊n/10⌋ lowest and highest prices) and the WINSORIZED mean (clamp
    them to the surviving boundary values instead) — the outlier-resistant
    averages a metrics pipeline reports when heavy tails make the plain
    mean lie; reporting both shows how much mass the tails carried.

    Exactness: selection is PURE INTEGER — row_number/count windows and
    the rn ∈ (k, n−k] cut (equal-cents ties drop an arbitrary duplicate,
    which cannot change the kept MULTISET, so no tie-break key is
    needed); boundary clamps are exact cents; each mean is ONE division
    rounded 4 dp.

    Scale: one group-partitioned sort window (row_number + count + the
    two boundary picks share the partition key — one shuffle) + one
    |groups|-row agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    wg = Window.partitionBy("g")
    ranked = li.select(
        "g",
        "cents",
        F.row_number()
        .over(Window.partitionBy("g").orderBy("cents"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(wg).cast("bigint").alias("n"),
    ).withColumn("k", (F.col("n") / 10).cast("bigint"))
    kept = (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k"))
    agg = ranked.groupBy("g").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("k").cast("bigint").alias("k"),
        F.sum(F.when(kept, F.col("cents")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_kept"),
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("cents")))
        .cast("bigint")
        .alias("lo_clamp"),
        F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("cents")))
        .cast("bigint")
        .alias("hi_clamp"),
    )
    n_kept = F.col("n") - F.lit(2) * F.col("k")
    wsum = (
        F.col("sum_kept")
        + F.col("k") * F.col("lo_clamp")
        + F.col("k") * F.col("hi_clamp")
    )
    return agg.select(
        F.col("g").alias("l_returnflag"),
        "n",
        F.col("k").alias("n_trimmed_each_side"),
        F.round(F.col("sum_kept").cast("double") / (F.lit(100) * n_kept), 4)
        .alias("trimmed_mean"),
        F.round(wsum.cast("double") / (F.lit(100) * F.col("n")), 4)
        .alias("winsorized_mean"),
    )


_TRIMMED_MEAN_SQL = """
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), ranked AS (
  SELECT g, cents,
         CAST(row_number() OVER (PARTITION BY g ORDER BY cents)
              AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM li
), cut AS (
  SELECT g, cents, rn, n, n // 10 AS k FROM ranked
), agg AS (
  SELECT g,
         CAST(max(n) AS BIGINT) AS n,
         CAST(max(k) AS BIGINT) AS k,
         CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN cents ELSE 0 END)
              AS BIGINT) AS sum_kept,
         CAST(max(CASE WHEN rn = k + 1 THEN cents END) AS BIGINT)
           AS lo_clamp,
         CAST(max(CASE WHEN rn = n - k THEN cents END) AS BIGINT)
           AS hi_clamp
  FROM cut GROUP BY 1
)
SELECT g AS l_returnflag, n, k AS n_trimmed_each_side,
       round(CAST(sum_kept AS DOUBLE) / (100 * (n - 2 * k)), 4)
         AS trimmed_mean,
       round(CAST(sum_kept + k * lo_clamp + k * hi_clamp AS DOUBLE)
             / (100 * n), 4) AS winsorized_mean
FROM agg
"""


def q_simpsons_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox diagnostic — the aggregation-bias screen every
    metrics pipeline should run before trusting a pooled trend: the OLS
    slope of price-on-discount WITHIN each return flag vs the slope over
    the POOLED corpus, flagging groups whose within-slope sign
    contradicts the pooled sign (the paradox case where segment mix, not
    behavior, drives the headline number).

    Exactness: all five regression moments are exact BIGINTs from one
    pass; the pooled moments are the SUMS of the checkpointed group
    moments (no second corpus scan — the welch_ttest posture); slope
    assembly casts each exact moment ONCE to double with the identical
    expression tree in both engines, rounded 6 dp; zero discount
    variance → NULL slope via the exact min = max guard; the flag
    compares SIGNS OF THE ROUNDED slopes (deterministic, never raw
    floats).

    Scale: one |groups|-row agg + the 1-row pooled-total crossJoin
    attach (allowlisted); output is |groups| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    grp = (
        li.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.min("x").cast("bigint").alias("mnx"),
            F.max("x").cast("bigint").alias("mxx"),
        )
        .localCheckpoint(eager=True)
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sx").cast("bigint").alias("tsx"),
        F.sum("sy").cast("bigint").alias("tsy"),
        F.sum("sxy").cast("bigint").alias("tsxy"),
        F.sum("sxx").cast("bigint").alias("tsxx"),
        F.min("mnx").cast("bigint").alias("tmnx"),
        F.max("mxx").cast("bigint").alias("tmxx"),
    )

    def slope(n, sx, sy, sxy, sxx):
        nd = F.col(n).cast("double")
        return F.round(
            (nd * F.col(sxy).cast("double")
             - F.col(sx).cast("double") * F.col(sy).cast("double"))
            / (nd * F.col(sxx).cast("double")
               - F.col(sx).cast("double") * F.col(sx).cast("double")),
            6,
        )

    j = grp.crossJoin(F.broadcast(tot))
    within = F.when(
        F.col("mnx") == F.col("mxx"), F.lit(None).cast("double")
    ).otherwise(slope("n", "sx", "sy", "sxy", "sxx"))
    pooled = F.when(
        F.col("tmnx") == F.col("tmxx"), F.lit(None).cast("double")
    ).otherwise(slope("tn", "tsx", "tsy", "tsxy", "tsxx"))
    out = j.select(
        "g",
        F.col("n").cast("bigint").alias("n"),
        within.alias("slope_within"),
        pooled.alias("slope_pooled"),
    )
    return out.select(
        F.col("g").alias("l_returnflag"),
        "n",
        "slope_within",
        "slope_pooled",
        (
            F.col("slope_within").isNotNull()
            & F.col("slope_pooled").isNotNull()
            & (F.signum("slope_within") * F.signum("slope_pooled") < 0)
        ).alias("simpson_flag"),
    )


_SIMPSONS_SQL = """
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(round(l_discount * 10000) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), grp AS (
  SELECT g,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(min(x) AS BIGINT) AS mnx, CAST(max(x) AS BIGINT) AS mxx
  FROM li GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn,
         CAST(sum(sx) AS BIGINT) AS tsx, CAST(sum(sy) AS BIGINT) AS tsy,
         CAST(sum(sxy) AS BIGINT) AS tsxy,
         CAST(sum(sxx) AS BIGINT) AS tsxx,
         CAST(min(mnx) AS BIGINT) AS tmnx, CAST(max(mxx) AS BIGINT) AS tmxx
  FROM grp
), j AS (
  SELECT g, n,
         -- + 0.0 normalizes IEEE negative zero on a knife-edge slope
         -- (DuckDB round keeps -0.0; Spark's BigDecimal round drops it)
         CASE WHEN mnx = mxx THEN NULL ELSE
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
         END AS slope_within,
         CASE WHEN tmnx = tmxx THEN NULL ELSE
           round((CAST(tn AS DOUBLE) * CAST(tsxy AS DOUBLE)
                  - CAST(tsx AS DOUBLE) * CAST(tsy AS DOUBLE))
                 / (CAST(tn AS DOUBLE) * CAST(tsxx AS DOUBLE)
                    - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE)), 6) + 0.0
         END AS slope_pooled
  FROM grp CROSS JOIN tot
)
SELECT g AS l_returnflag, n, slope_within, slope_pooled,
       (slope_within IS NOT NULL AND slope_pooled IS NOT NULL
        AND sign(slope_within) * sign(slope_pooled) < 0) AS simpson_flag
FROM j
"""


def q_weighted_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random walks — random_walks' production sibling: the
    neighbor is drawn ∝ TRADE VOLUME (edge weight = total cents between
    the customer and supplier), the node2vec-style sampler that makes
    walk corpora reflect relationship strength instead of mere
    adjacency. Deterministic CDF-indexed sampling: each node's neighbor
    list carries exact cumulative-weight ranges [cum_lo, cum_hi) in
    cents, and the pick is r = hash mod total_weight landed in its
    range — replayable, partition-independent, no RNG state.

    Exactness: weights, cumulative ranges, and the LCG mix (mod 2^61 —
    wide enough that totals up to ~2.3e18 cents stay unbiased-by-
    construction and EXACT; the mix products stay < 2^63) are pure
    BIGINT in both engines.

    Scale: per hop ONE node-key hash join against the indexed adjacency
    (deg fan-out filtered to the landed range — the random_walks gather
    shape); the weighted edge list is built by one (c, s) groupBy and
    localCheckpoint-ed (both directions + starts read it)."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
    we = (
        _trade_lines(spark, sf_dir, cents)
        .groupBy("c", "s")
        .agg(F.sum("cents").cast("bigint").alias("w"))
        .localCheckpoint(eager=True)
    )

    def adjacency(src: str, dst: str) -> DataFrame:
        wn = Window.partitionBy(src)
        cum = (
            F.sum("w")
            .over(Window.partitionBy(src).orderBy(dst).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            ))
            .cast("bigint")
        )
        return we.select(
            F.col(src).alias("node"),
            F.col(dst).alias("nbr"),
            (cum - F.col("w")).alias("cum_lo"),
            cum.alias("cum_hi"),
            F.sum("w").over(wn).cast("bigint").alias("total"),
        )

    adj_sc = adjacency("s", "c")
    adj_cs = adjacency("c", "s")
    frontier = (
        we.select("s")
        .distinct()
        .select(
            F.col("s").alias("s0"),
            F.explode(F.array(F.lit(0), F.lit(1))).alias("w_int"),
        )
        .select("s0", F.col("w_int").cast("bigint").alias("wk"))
        .withColumn("cur", F.col("s0"))
    )
    hop_names: list[str] = []
    for step, adj, hop_name in (
        (1, adj_sc, "hop1_c"),
        (2, adj_cs, "hop2_s"),
        (3, adj_sc, "hop3_c"),
    ):
        a = adj.alias(f"a{step}")
        h = F.pmod(
            F.col("cur") * F.lit(1103515245)
            + F.col("wk") * F.lit(12345)
            + F.lit(step) * F.lit(2531011),
            F.lit(2305843009213693952),
        )
        r = F.pmod(h, F.col(f"a{step}.total"))
        frontier = (
            frontier.join(
                a,
                (F.col(f"a{step}.node") == F.col("cur"))
                & (F.col(f"a{step}.cum_lo") <= r)
                & (r < F.col(f"a{step}.cum_hi")),
            )
            .select(
                "s0",
                "wk",
                *hop_names,
                F.col(f"a{step}.nbr").alias(hop_name),
            )
            .withColumn("cur", F.col(hop_name))
        )
        hop_names.append(hop_name)
    return frontier.select(
        F.col("s0").alias("start_s"),
        F.col("wk").alias("walk"),
        "hop1_c",
        "hop2_s",
        "hop3_c",
        F.concat_ws(
            ">",
            F.col("s0").cast("string"),
            F.col("hop1_c").cast("string"),
            F.col("hop2_s").cast("string"),
            F.col("hop3_c").cast("string"),
        ).alias("path"),
    ).orderBy("start_s", "walk")


_WEIGHTED_WALKS_SQL = """
WITH we AS (
  SELECT o_custkey AS c, l_suppkey AS s,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), adj_sc AS (
  SELECT s, c, w,
         CAST(sum(w) OVER (PARTITION BY s ORDER BY c
                           ROWS UNBOUNDED PRECEDING) - w AS BIGINT)
           AS cum_lo,
         CAST(sum(w) OVER (PARTITION BY s ORDER BY c
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hi,
         CAST(sum(w) OVER (PARTITION BY s) AS BIGINT) AS total
  FROM we
), adj_cs AS (
  SELECT c, s, w,
         CAST(sum(w) OVER (PARTITION BY c ORDER BY s
                           ROWS UNBOUNDED PRECEDING) - w AS BIGINT)
           AS cum_lo,
         CAST(sum(w) OVER (PARTITION BY c ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hi,
         CAST(sum(w) OVER (PARTITION BY c) AS BIGINT) AS total
  FROM we
), walks AS (
  SELECT s AS s0, wk
  FROM (SELECT DISTINCT s FROM we) CROSS JOIN (VALUES (0), (1)) t(wk)
), st1 AS (
  SELECT s0, wk, a.c AS c1
  FROM walks JOIN adj_sc a
    ON a.s = s0
   AND ((s0 * 1103515245 + wk * 12345 + 1 * 2531011)
        % 2305843009213693952) % a.total >= a.cum_lo
   AND ((s0 * 1103515245 + wk * 12345 + 1 * 2531011)
        % 2305843009213693952) % a.total < a.cum_hi
), st2 AS (
  SELECT s0, wk, c1, a.s AS s2
  FROM st1 JOIN adj_cs a
    ON a.c = c1
   AND ((c1 * 1103515245 + wk * 12345 + 2 * 2531011)
        % 2305843009213693952) % a.total >= a.cum_lo
   AND ((c1 * 1103515245 + wk * 12345 + 2 * 2531011)
        % 2305843009213693952) % a.total < a.cum_hi
), st3 AS (
  SELECT s0, wk, c1, s2, a.c AS c3
  FROM st2 JOIN adj_sc a
    ON a.s = s2
   AND ((s2 * 1103515245 + wk * 12345 + 3 * 2531011)
        % 2305843009213693952) % a.total >= a.cum_lo
   AND ((s2 * 1103515245 + wk * 12345 + 3 * 2531011)
        % 2305843009213693952) % a.total < a.cum_hi
)
SELECT s0 AS start_s, CAST(wk AS BIGINT) AS walk,
       c1 AS hop1_c, s2 AS hop2_s, c3 AS hop3_c,
       CAST(s0 AS VARCHAR) || '>' || CAST(c1 AS VARCHAR) || '>'
         || CAST(s2 AS VARCHAR) || '>' || CAST(c3 AS VARCHAR) AS path
FROM st3
"""


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs on the bipartite trade graph (Kleinberg 1999) — two
    exact power-iteration rounds: authority(c) = Σ hub(s) over c's
    suppliers, hub(s) = Σ authority(c) over s's customers; the top-20
    hub suppliers are the "connected to well-connected customers"
    ranking pagerank's symmetrized damping blurs.

    Exactness: per-round max-normalization is a MONOTONE uniform
    scaling, so skipping it leaves the ranking and the score RATIOS
    identical while keeping every score an exact BIGINT. h after two
    unnormalized rounds counts 4-STEP PATHS from s, so the bound is a
    product of FOUR degree factors: h2(s) ≤ deg(s)·max_cdeg²·max_sdeg
    (measured sf0.1: max_sdeg 679, max_cdeg 102 → ≤ 679·102²·679
    ≈ 4.8e12 — far under 2^63, but tighter
    headroom than a naive n·max_deg² reading suggests; judge the
    re-add-normalization threshold from the 4-factor formula). Deeper
    iterations or 100 TB degrees re-introduce the per-round floor-div
    normalization (documented trade).

    Scale: per half-round ONE node-key hash join (scores ⋈ edges) + one
    map-side-combined groupBy — the Pregel gather shape on alternating
    sides; the edge list is localCheckpoint-ed (read four times);
    TakeOrderedAndProject top-20."""
    e = _trade_lines(spark, sf_dir).distinct().localCheckpoint(eager=True)
    hub = e.select("s").distinct().withColumn(
        "h", F.lit(1).cast("bigint")
    )
    for _round in range(2):
        auth = (
            e.join(hub, "s")
            .groupBy("c")
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        hub = (
            e.join(auth, "c")
            .groupBy("s")
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
    deg = e.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    return (
        hub.join(deg, "s")
        .select(F.col("s").alias("s_suppkey"), F.col("h").alias("hub_score"),
                "n_customers")
        .orderBy(F.col("hub_score").desc(), "s_suppkey")
        .limit(20)
    )


_HITS_SQL = """
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), h0 AS (
  SELECT DISTINCT s, CAST(1 AS BIGINT) AS h FROM e
), a1 AS (
  SELECT c, CAST(sum(h) AS BIGINT) AS a
  FROM e JOIN h0 USING (s) GROUP BY 1
), h1 AS (
  SELECT s, CAST(sum(a) AS BIGINT) AS h
  FROM e JOIN a1 USING (c) GROUP BY 1
), a2 AS (
  SELECT c, CAST(sum(h) AS BIGINT) AS a
  FROM e JOIN h1 USING (s) GROUP BY 1
), h2 AS (
  SELECT s, CAST(sum(a) AS BIGINT) AS h
  FROM e JOIN a2 USING (c) GROUP BY 1
), deg AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n_customers FROM e GROUP BY 1
)
SELECT s AS s_suppkey, h AS hub_score, n_customers
FROM h2 JOIN deg USING (s)
ORDER BY hub_score DESC, s_suppkey LIMIT 20
"""


QUERIES = {
    "agg_groupby": q_agg_groupby,
    "select_filter": q_select_filter,
    "derived_column": q_derived_column,
    "null_handling": q_null_handling,
    "sample_mod": q_sample_mod,
    "topk": q_topk,
    "sort_limit": q_sort_limit,
    "distinct": q_distinct,
    "value_counts": q_value_counts,
    "set_ops": q_set_ops,
    "join_3way": q_join_3way,
    "join_outer": q_join_outer,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "cross_join": q_cross_join,
    "range_join": q_range_join,
    "range_join_banded": q_range_join_banded,
    "agg_stats": q_agg_stats,
    "distinct_approx": q_distinct_approx,
    "hll_sketch_union": q_hll_sketch_union,
    "kll_quantiles": q_kll_quantiles,
    "group_kll_quantiles": q_group_kll_quantiles,
    "nullsafe_join": q_nullsafe_join,
    "fuzzy_join": q_fuzzy_join,
    "fuzzy_lookup": q_fuzzy_lookup,
    "fuzzy_clusters": q_fuzzy_clusters,
    "skew_profile": q_skew_profile,
    "join_explosion": q_join_explosion,
    "apply_cdc": q_apply_cdc,
    "zorder_stats": q_zorder_stats,
    "pagerank": q_pagerank,
    "pagerank_weighted": q_pagerank_weighted,
    "triangle_count": q_triangle_count,
    "skyline_parts": q_skyline_parts,
    "benford_digits": q_benford_digits,
    "ivm_agg": q_ivm_agg,
    "reachable_nodes": q_reachable_nodes,
    "spatial_pairs": q_spatial_pairs,
    "percentiles": q_percentiles,
    "outlier_mad": q_outlier_mad,
    "corr_cov": q_corr_cov,
    "cube_agg": q_cube_agg,
    "grouping_sets": q_grouping_sets,
    "describe_summary": q_describe_summary,
    "melt_metrics": q_melt_metrics,
    "window_rank": q_window_rank,
    "lag_lead": q_lag_lead,
    "rolling_avg": q_rolling_avg,
    "cumsum": q_cumsum,
    "ntile_percent": q_ntile_percent,
    "string_funcs": q_string_funcs,
    "json_extract": q_json_extract,
    "basket_pairs": q_basket_pairs,
    "weighted_median": q_weighted_median,
    "weighted_quantiles_binned": q_weighted_quantiles_binned,
    "rfm_segments": q_rfm_segments,
    "sssp_bounded": q_sssp_bounded,
    "kcore_peel": q_kcore_peel,
    "k_anonymity": q_k_anonymity,
    "part_family_rollup": q_part_family_rollup,
    "single_source_parts": q_single_source_parts,
    "gini_by_segment": q_gini_by_segment,
    "waiting_suppliers": q_waiting_suppliers,
    "idle_customers": q_idle_customers,
    "auc_by_type": q_auc_by_type,
    "welch_ttest": q_welch_ttest,
    "spearman_corr": q_spearman_corr,
    "resource_alloc": q_resource_alloc,
    "random_walks": q_random_walks,
    "trimmed_mean": q_trimmed_mean,
    "simpsons_check": q_simpsons_check,
    "weighted_walks": q_weighted_walks,
    "hits_scores": q_hits_scores,
    "lpa_communities": q_lpa_communities,
    "feature_mi": q_feature_mi,
    "monthly_churn": q_monthly_churn,
    "info_gain_splits": q_info_gain_splits,
    "supplier_return_ci": q_supplier_return_ci,
    "below_avg_qty": q_below_avg_qty,
    "degree_assortativity": q_degree_assortativity,
    "chi2_abtest": q_chi2_abtest,
    "null_profile": q_null_profile,
    "ref_integrity": q_ref_integrity,
    "degree_histogram": q_degree_histogram,
    "cohort_ltv": q_cohort_ltv,
    "abc_by_brand": q_abc_by_brand,
    "market_hhi": q_market_hhi,
    "late_shipment_rate": q_late_shipment_rate,
}

ORACLE = {
    "agg_groupby": _AGG_GROUPBY_SQL,
    "select_filter": _SELECT_FILTER_SQL,
    "derived_column": _DERIVED_COLUMN_SQL,
    "null_handling": _NULL_HANDLING_SQL,
    "sample_mod": _SAMPLE_MOD_SQL,
    "topk": _TOPK_SQL,
    "sort_limit": _SORT_LIMIT_SQL,
    "distinct": _DISTINCT_SQL,
    "value_counts": _VALUE_COUNTS_SQL,
    "set_ops": _SET_OPS_SQL,
    "join_3way": _JOIN_3WAY_SQL,
    "join_outer": _JOIN_OUTER_SQL,
    "semi_join": _SEMI_JOIN_SQL,
    "anti_join": _ANTI_JOIN_SQL,
    "cross_join": _CROSS_JOIN_SQL,
    "range_join": _RANGE_JOIN_SQL,
    "range_join_banded": _RANGE_JOIN_BANDED_SQL,
    "agg_stats": _AGG_STATS_SQL,
    "percentiles": _PERCENTILES_SQL,
    "corr_cov": _CORR_COV_SQL,
    "cube_agg": _CUBE_AGG_SQL,
    "grouping_sets": _GROUPING_SETS_SQL,
    "nullsafe_join": _NULLSAFE_JOIN_SQL,
    "fuzzy_join": _FUZZY_JOIN_SQL,
    "fuzzy_lookup": _FUZZY_LOOKUP_SQL,
    "fuzzy_clusters": _FUZZY_CLUSTERS_SQL,
    "skew_profile": _SKEW_PROFILE_SQL,
    "join_explosion": _JOIN_EXPLOSION_SQL,
    "apply_cdc": _APPLY_CDC_SQL,
    "zorder_stats": _zorder_sql(),
    "outlier_mad": _OUTLIER_MAD_SQL,
    "pagerank": _PAGERANK_SQL,
    "pagerank_weighted": _PAGERANK_WEIGHTED_SQL,
    "triangle_count": _triangle_sql(),
    "skyline_parts": _skyline_sql(),
    "benford_digits": _benford_sql(),
    "ivm_agg": _IVM_AGG_SQL,
    "reachable_nodes": _REACHABLE_SQL,
    "spatial_pairs": _SPATIAL_SQL,
    "describe_summary": _DESCRIBE_SUMMARY_SQL,
    "melt_metrics": _MELT_SQL,
    "window_rank": _WINDOW_RANK_SQL,
    "lag_lead": _LAG_LEAD_SQL,
    "rolling_avg": _ROLLING_AVG_SQL,
    "cumsum": _CUMSUM_SQL,
    "ntile_percent": _NTILE_PERCENT_SQL,
    "string_funcs": _STRING_FUNCS_SQL,
    "json_extract": _JSON_EXTRACT_SQL,
    "basket_pairs": _BASKET_PAIRS_SQL,
    "weighted_median": _WEIGHTED_MEDIAN_SQL,
    "weighted_quantiles_binned": _WEIGHTED_QUANTILES_BINNED_SQL,
    "rfm_segments": _RFM_SQL,
    "sssp_bounded": _SSSP_SQL,
    "kcore_peel": _KCORE_SQL,
    "k_anonymity": _KANON_SQL,
    "part_family_rollup": _PART_FAMILY_SQL,
    "single_source_parts": _SINGLE_SOURCE_SQL,
    "gini_by_segment": _GINI_SQL,
    "waiting_suppliers": _WAITING_SUPPLIERS_SQL,
    "idle_customers": _IDLE_CUSTOMERS_SQL,
    "auc_by_type": _AUC_SQL,
    "welch_ttest": _WELCH_SQL,
    "spearman_corr": _SPEARMAN_SQL,
    "resource_alloc": _RESOURCE_ALLOC_SQL,
    "random_walks": _RANDOM_WALKS_SQL,
    "trimmed_mean": _TRIMMED_MEAN_SQL,
    "simpsons_check": _SIMPSONS_SQL,
    "weighted_walks": _WEIGHTED_WALKS_SQL,
    "hits_scores": _HITS_SQL,
    "lpa_communities": _LPA_SQL,
    "feature_mi": _FEATURE_MI_SQL,
    "monthly_churn": _MONTHLY_CHURN_SQL,
    "info_gain_splits": _INFO_GAIN_SQL,
    "supplier_return_ci": _WILSON_SQL,
    "below_avg_qty": _BELOW_AVG_SQL,
    "degree_assortativity": _ASSORT_SQL,
    "chi2_abtest": _CHI2_SQL,
    "null_profile": _NULL_PROFILE_SQL,
    "ref_integrity": _REF_INTEGRITY_SQL,
    "degree_histogram": _DEGREE_HIST_SQL,
    "cohort_ltv": _COHORT_LTV_SQL,
    "abc_by_brand": _ABC_SQL,
    "market_hhi": _HHI_SQL,
    "late_shipment_rate": _LATE_SHIP_SQL,
}
