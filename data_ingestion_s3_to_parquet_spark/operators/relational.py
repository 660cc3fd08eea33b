"""Relational core operators (SURVEY.md §2B).

Every function is a lazy DataFrame builder ``(spark, sf_dir) -> DataFrame``;
the paired DuckDB oracle SQL sits next to it. Design rules (SURVEY.md §7
risk #1):

- every computed column aliased identically in Spark and SQL;
- double aggregates go through the decimal-sum pattern
  (:mod:`..functions.numeric`) so values are bitwise-stable;
- every ``LIMIT`` is under a total order (tie-break on a key);
- set operations use distinct (SQL) semantics on both sides.

Scale notes are attached per-operator where the plan shape matters at
100 TB (broadcast vs shuffle join, partial aggregation, TakeOrdered).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import davg, davg_sql, dsum
from ..plans.spec import Query
from ..sources.catalog import load_table, spread


# --- scan / project / filter -------------------------------------------------

def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain parquet scan (reference A3/A6 analogue on the fixture catalog)."""
    return load_table(spark, sf_dir, "region")


SQL_SCAN_PARQUET = "SELECT r_regionkey, r_name FROM region"


def q_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate (reference A5 plus a filter).

    Scale: both the 4-column projection and the quantity predicate reach
    the parquet reader (ReadSchema / PushedFilters) — row groups whose
    min/max exclude ``l_quantity > 45`` are never decoded.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


SQL_PROJECT_FILTER = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_quantity > 45
"""


def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: AND/OR/NOT, IN, BETWEEN, LIKE, IS NULL."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(
        (
            F.col("o_orderstatus").isin("F", "P")
            & F.col("o_totalprice").between(50_000, 150_000)
        )
        | (
            F.col("o_orderpriority").like("1-%")
            & ~F.col("o_orderstatus").isin("P")
            & F.col("o_totalprice").isNotNull()
        )
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


SQL_FILTER_COMPOUND = """
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE (o_orderstatus IN ('F', 'P') AND o_totalprice BETWEEN 50000 AND 150000)
   OR (o_orderpriority LIKE '1-%' AND NOT o_orderstatus IN ('P')
       AND o_totalprice IS NOT NULL)
"""


# --- aggregation -------------------------------------------------------------

def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation (sum/avg/count per group).

    Scale: groupBy on 6-ish distinct keys → near-total map-side partial
    aggregation; the shuffle moves one row per (partition, group). The
    decimal accumulators keep that property (partial sums are decimals)
    AND make the plan layout-invariant, which licenses ``spread()``:
    the fixture files carry a single parquet row group, so without it
    the decimal-heavy partial aggregation runs on ≤3 scan tasks
    (measured 1.70 s → 1.11 s at sf0.1 with the round-robin widen; at
    real scale the input has many splits and spread() is a no-op).
    """
    li = spread(load_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
            # conditional aggregation (count_if / FILTER), folded in from
            # the former agg_conditional entry — one pass, same shuffle
            F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
            F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
            F.count_if(F.col("l_quantity") >= 40).alias("n_bulk"),
        )
    )


SQL_AGG_GROUP = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_charge,
  {davg_sql("l_quantity", "avg_qty")},
  {davg_sql("l_extendedprice", "avg_price")},
  {davg_sql("l_discount", "avg_disc")},
  COUNT(*) AS count_order,
  COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
  COUNT(*) FILTER (WHERE l_quantity >= 40) AS n_bulk
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT / COUNT(DISTINCT) exact forms, plus the HyperLogLog++
    approximate variant graded as a tolerance invariant.

    Scale: count-distinct expands to a two-phase aggregate (distinct on
    (group, key) then count) — Spark plans this itself; no driver-side
    ``.distinct().count()`` actions. The approx sketch is THE
    count-distinct at 100 TB — constant-size, mergeable, one shuffle of
    sketches instead of a distinct-expand. Its estimate is
    algorithm-specific, so the oracle checks the accuracy CONTRACT
    instead of the value: ``approx_parts_ok`` asserts the deterministic
    HLL++ estimate lands within 5% of the exact count (rsd is 0.01);
    the oracle's side of that boolean is literal TRUE.
    """
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey", 0.01)
    return li.groupBy("l_returnflag").agg(
        exact.alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count("*").alias("n_rows"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            / exact.cast("double")
            <= 0.05
        ).alias("approx_parts_ok"),
    )


SQL_AGG_DISTINCT = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_supps,
       COUNT(*) AS n_rows,
       TRUE AS approx_parts_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with grouping_id."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_rows"),
            dsum("l_quantity", "sum_qty"),
        )
    )


SQL_AGG_ROLLUP_CUBE = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --- joins -------------------------------------------------------------------

def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: revenue by nation — lineitem ⋈ orders ⋈ customer ⋈ nation.

    Scale: lineitem⋈orders and orders⋈customer are shuffle hash/SMJ on
    their keys (AQE picks; both sides large). nation is broadcast — a
    25-row dim must never shuffle the fact table. Filters on shipdate
    push to the lineitem scan before the first join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"), F.count("*").alias("n_items"))
    )


SQL_JOIN_INNER = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER + FULL OUTER in one pipeline (former join_outer and
    join_full_outer entries, merged for the graded-registry budget).

    Stage 1 (left): positive-balance customers keep their big-order
    aggregate even with zero matches. Stage 2 (full): that left-hand
    result full-outer-joins the finished-order aggregate — customers
    filtered out of stage 1 but present in stage 2 surface as
    right-only rows (null c_name), left-only customers keep
    n_finished = 0, so both outer directions genuinely occur.
    """
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") >= 0)
    o = load_table(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 200_000)
    left = (
        c.join(big, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), "total_spend"),
        )
    )
    fin = (
        o.where(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_finished"))
    )
    return (
        left.join(fin, F.col("c_custkey") == F.col("o_custkey"), "full")
        .select(
            F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
            "c_name",
            "n_big_orders",
            "total_spend",
            F.coalesce(F.col("n_finished"), F.lit(0)).alias("n_finished"),
        )
    )


SQL_JOIN_OUTER = """
WITH lhs AS (
  SELECT c_custkey, c_name,
         COUNT(o_orderkey) AS n_big_orders,
         CAST(ROUND(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(18,8))), 2) AS DOUBLE) AS total_spend
  FROM (SELECT * FROM customer WHERE c_acctbal >= 0) c
  LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
    ON c_custkey = o_custkey
  GROUP BY c_custkey, c_name
),
fin AS (
  SELECT o_custkey, COUNT(*) AS n_finished
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
)
SELECT COALESCE(c_custkey, o_custkey) AS custkey,
       c_name, n_big_orders, total_spend,
       COALESCE(n_finished, 0) AS n_finished
FROM lhs FULL OUTER JOIN fin ON c_custkey = o_custkey
"""


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI existence joins, tagged and unioned.

    Scale: semi/anti never materialize the probe payload — only the key
    set of ``orders`` crosses the shuffle (or broadcasts under AQE).
    """
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cond = F.col("c_custkey") == F.col("o_custkey")
    has = c.join(urgent, cond, "left_semi").select(
        "c_custkey", F.lit("has_urgent").alias("tag")
    )
    hasnt = c.join(urgent, cond, "left_anti").select(
        "c_custkey", F.lit("no_urgent").alias("tag")
    )
    return has.unionByName(hasnt)


SQL_JOIN_SEMI_ANTI = """
SELECT c_custkey, 'has_urgent' AS tag FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey, 'no_urgent' AS tag FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the region→nation dim chain onto customer.

    Scale: ``F.broadcast`` pins a BroadcastHashJoin regardless of stats —
    the right move for bounded dims; the customer fact never shuffles.

    The ``nations`` column folds in the former agg_string_collect entry
    (ordered string aggregation): collect_set is order-nondeterministic
    under shuffle, so array_sort restores a canonical order before the
    join — never rely on collect order at any scale.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dim = F.broadcast(
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        c.join(dim, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            davg("c_acctbal", "avg_acctbal"),
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"),
        )
    )


SQL_JOIN_BROADCAST = f"""
SELECT r_name,
       COUNT(*) AS n_customers,
       {davg_sql("c_acctbal", "avg_acctbal")},
       array_to_string(list_sort(list_distinct(list(n_name))), ',') AS nations
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + band (range) join: lineitem×part where quantity ≈ p_size.

    Scale: the equi key keeps this a hash join with a residual band
    filter — never a nested-loop. A *pure* band join at scale needs
    binning both sides on the band width and joining on bin (see
    ``q_join_asof`` for the event-time variant).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(
            p,
            (F.col("l_partkey") == F.col("p_partkey"))
            & (F.col("l_quantity") >= F.col("p_size") - 2)
            & (F.col("l_quantity") <= F.col("p_size") + 2),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_band_matches"))
    )


SQL_JOIN_RANGE = """
SELECT p_brand, COUNT(*) AS n_band_matches
FROM lineitem
JOIN part ON l_partkey = p_partkey
         AND l_quantity >= p_size - 2
         AND l_quantity <= p_size + 2
GROUP BY p_brand
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator Spark lacks natively): for each event,
    the most recent order of the matching customer at event time.

    Composition strategy (SURVEY.md §2B "custom operators" path (a)):
    equi-join on the entity key + inequality on time, then keep rank 1
    per event via a window — all built-ins, no UDF. Scale: the equi key
    bounds the fan-out to orders-per-customer; for unbounded fan-out
    you'd bucket both sides by time range first.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    o = load_table(spark, sf_dir, "orders")
    j = ev.join(
        o,
        (F.col("user_id") == F.col("o_custkey")) & (F.col("o_orderdate") <= F.col("ts")),
        "inner",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.col("o_orderdate").alias("asof_orderdate"),
        )
    )


SQL_JOIN_ASOF = """
SELECT event_id, user_id, asof_orderkey, asof_orderdate
FROM (
  SELECT e.event_id, e.user_id,
         o.o_orderkey AS asof_orderkey, o.o_orderdate AS asof_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
  WHERE e.event_type = 'purchase'
) WHERE rn = 1
"""


# --- sort / limit / set ops --------------------------------------------------

def q_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT (top-k) under a total order.

    Scale: Spark plans this as TakeOrderedAndProject — per-partition
    top-k then a k-sized merge on the driver; no global sort.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


SQL_SORT_LIMIT_TOPK = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT with SQL (distinct) semantics, tagged;
    the final branch appends through ``unionByName(allowMissingColumns)``
    (former union_by_name entry) — the schema-evolution-tolerant append,
    where earlier branches fill the late ``segment`` column with nulls."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = o.where(F.col("o_totalprice") > 300_000).select(
        F.col("o_custkey").alias("custkey")
    )
    auto = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("custkey")
    )
    tagged = (
        big.intersect(auto).withColumn("op", F.lit("intersect"))
        .unionByName(big.subtract(auto).withColumn("op", F.lit("except")))
        .unionByName(big.union(auto).distinct().withColumn("op", F.lit("union")))
    )
    evolved = c.where(F.col("c_mktsegment") == "FURNITURE").select(
        F.col("c_custkey").alias("custkey"),
        F.lit("furniture").alias("op"),
        F.col("c_mktsegment").alias("segment"),
    )
    return tagged.unionByName(evolved, allowMissingColumns=True)


SQL_SET_OPS = """
WITH big  AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000),
     auto AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
SELECT custkey, 'intersect' AS op, NULL AS segment FROM (SELECT * FROM big INTERSECT SELECT * FROM auto)
UNION ALL
SELECT custkey, 'except' AS op, NULL AS segment FROM (SELECT * FROM big EXCEPT SELECT * FROM auto)
UNION ALL
SELECT custkey, 'union' AS op, NULL AS segment FROM (SELECT * FROM big UNION SELECT * FROM auto)
UNION ALL
SELECT c_custkey AS custkey, 'furniture' AS op, c_mktsegment AS segment
FROM customer WHERE c_mktsegment = 'FURNITURE'
"""


# --- windows -----------------------------------------------------------------

def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number per partition; top-3 with ties.

    Determinism: rank orders on a coarse bucket (1000-wide price bins) so
    ties genuinely occur; ``rank() <= 3`` keeps whole tie groups (a
    deterministic SET); row_number gets a full tie-break key.

    The row_number window (different spec) is computed BEFORE the rank
    window on purpose: the ``rnk <= 3`` filter then sits directly above
    the rank Window node and Catalyst rewrites it to WindowGroupLimit —
    a per-group k-row heap instead of a full per-group sort, the
    O(n log k) top-k-per-group shape that matters at 100 TB (guarded by
    tests/test_plans.py).
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 1000).alias("price_bucket")
    ranked = o.select("o_orderkey", "o_orderpriority", "o_totalprice", bucket)
    w_rank = Window.partitionBy("o_orderpriority").orderBy(F.col("price_bucket").desc())
    w_rn = Window.partitionBy("o_orderpriority").orderBy(
        F.col("price_bucket").desc(), F.col("o_orderkey").asc()
    )
    return (
        ranked.withColumn("rn", F.row_number().over(w_rn))
        .withColumn("rnk", F.rank().over(w_rank))
        .withColumn("drnk", F.dense_rank().over(w_rank))
        .where(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "price_bucket", "rnk", "drnk", "rn")
    )


SQL_WINDOW_RANK = """
SELECT o_orderpriority, o_orderkey, price_bucket, rnk, drnk, rn
FROM (
  SELECT o_orderpriority, o_orderkey,
         CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_bucket,
         RANK()       OVER (PARTITION BY o_orderpriority ORDER BY FLOOR(o_totalprice / 1000) DESC) AS rnk,
         DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY FLOOR(o_totalprice / 1000) DESC) AS drnk,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY FLOOR(o_totalprice / 1000) DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rnk <= 3
"""


def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window surface in one pass: lag / lead / running-sum
    ROWS frame per customer, a value-based RANGE frame (±5000 price
    neighbors per priority — former window_range_frame entry), and
    IGNORE NULLS gap-filling over a planted-sparse price (former
    window_ignore_nulls entry).

    Running sums evaluate sequentially in frame order (identical on both
    engines given the same total order), so plain double addition is
    already bitwise-stable; decimal cast retained for uniformity. The
    DataFrame ``lag()`` API lacks an ignoreNulls parameter, so the SQL
    expression form is used — it compiles to the same
    ``Lag(_, _, ignoreNulls=true)`` plan node.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_range = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").asc())
        .rangeBetween(-5000, 5000)
    )
    sparse = F.when(F.col("o_orderkey") % 3 != 0, F.col("o_totalprice"))
    return o.withColumn("sparse_price", sparse).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,8)")).over(frame), 2
        ).cast("double").alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
        F.count("*").over(w_range).alias("n_price_neighbors"),
        "sparse_price",
        F.expr(
            "lag(sparse_price, 1) IGNORE NULLS OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"
        ).alias("prev_obs"),
        F.last("sparse_price", ignorenulls=True).over(frame).alias("filled"),
    )


SQL_WINDOW_ANALYTIC = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       LAG(o_totalprice, 1)  OVER w AS prev_price,
       LEAD(o_totalprice, 1) OVER w AS next_price,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,8)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_spend,
       ROW_NUMBER() OVER w AS order_seq,
       COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC
                      RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) AS n_price_neighbors,
       CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END AS sparse_price,
       lag(CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END, 1 IGNORE NULLS) OVER w AS prev_obs,
       last_value(CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END IGNORE NULLS) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


# --- scalar functions ---------------------------------------------------------

def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function surface in one projection (whole-stage codegen
    territory — zero Python in the row path): string / date / math /
    conditional, plus regexp / pad / translate / split / date-arithmetic
    (former scalar_funcs2 entry) and the NULL surface —
    nullif / coalesce / null-safe equality (former null_handling entry;
    the fixtures are null-free, so nulls are *manufactured* with nullif,
    which also keeps the null paths oracle-checkable)."""
    o = load_table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.upper("o_orderstatus").alias("status_uc"),
        F.concat_ws("#", F.col("o_orderstatus"), F.col("o_orderpriority")).alias("status_prio"),
        F.round(F.col("o_totalprice") / 1000.0, 1).alias("price_k"),
        F.abs(F.col("o_totalprice") - 250_000.0).alias("dist_from_250k"),
        F.when(F.col("o_totalprice") > 250_000, F.lit("big"))
        .when(F.col("o_totalprice") > 100_000, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
        F.length("o_orderpriority").alias("prio_len"),
        # former scalar_funcs2 columns
        F.regexp_extract("o_orderpriority", "^(\\d+)-", 1).alias("prio_num"),
        F.lpad("o_orderstatus", 3, "_").alias("status_pad"),
        F.translate("o_orderpriority", "-", "_").alias("prio_us"),
        F.element_at(F.split("o_orderpriority", "-"), 2).alias("prio_word"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("age_days"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        # former null_handling columns
        status_or_null.alias("status_np"),
        F.coalesce(status_or_null, F.lit("PENDING")).alias("status_filled"),
        status_or_null.eqNullSafe(F.lit(None).cast("string")).alias("is_pending"),
        F.when(status_or_null.isNull(), 0).otherwise(1).alias("has_status"),
    )


SQL_SCALAR_FUNCS = """
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INT) AS order_year,
       CAST(MONTH(o_orderdate) AS INT) AS order_month,
       CAST(DAY(o_orderdate) AS INT) AS order_day,
       SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
       UPPER(o_orderstatus) AS status_uc,
       CONCAT_WS('#', o_orderstatus, o_orderpriority) AS status_prio,
       ROUND(o_totalprice / 1000.0, 1) AS price_k,
       ABS(o_totalprice - 250000.0) AS dist_from_250k,
       CASE WHEN o_totalprice > 250000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'small' END AS size_class,
       CAST(LENGTH(o_orderpriority) AS INT) AS prio_len,
       regexp_extract(o_orderpriority, '^(\\d+)-', 1) AS prio_num,
       lpad(o_orderstatus, 3, '_') AS status_pad,
       translate(o_orderpriority, '-', '_') AS prio_us,
       string_split(o_orderpriority, '-')[2] AS prio_word,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS age_days,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
       nullif(o_orderstatus, 'P') AS status_np,
       COALESCE(nullif(o_orderstatus, 'P'), 'PENDING') AS status_filled,
       nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL AS is_pending,
       CASE WHEN nullif(o_orderstatus, 'P') IS NULL THEN 0 ELSE 1 END AS has_status
FROM orders
"""


QUERIES: list[Query] = [
    Query("scan_parquet", q_scan_parquet, SQL_SCAN_PARQUET),
    Query("project_filter", q_project_filter, SQL_PROJECT_FILTER),
    Query("filter_compound", q_filter_compound, SQL_FILTER_COMPOUND),
    Query("agg_group", q_agg_group, SQL_AGG_GROUP, bench=True),
    Query("agg_distinct", q_agg_distinct, SQL_AGG_DISTINCT),
    Query("agg_rollup_cube", q_agg_rollup_cube, SQL_AGG_ROLLUP_CUBE),
    Query("join_inner", q_join_inner, SQL_JOIN_INNER, bench=True),
    Query("join_outer", q_join_outer, SQL_JOIN_OUTER),
    Query("join_semi_anti", q_join_semi_anti, SQL_JOIN_SEMI_ANTI),
    Query("join_broadcast", q_join_broadcast, SQL_JOIN_BROADCAST),
    Query("join_range", q_join_range, SQL_JOIN_RANGE, bench=True),
    Query("join_asof", q_join_asof, SQL_JOIN_ASOF),
    Query("sort_limit_topk", q_sort_limit_topk, SQL_SORT_LIMIT_TOPK),
    Query("set_ops", q_set_ops, SQL_SET_OPS),
    Query("window_rank", q_window_rank, SQL_WINDOW_RANK),
    Query("window_analytic", q_window_analytic, SQL_WINDOW_ANALYTIC, bench=True),
    Query("scalar_funcs", q_scalar_funcs, SQL_SCALAR_FUNCS),
]
