"""Advanced relational operators: subqueries, percentiles, pivot, salted
joins, multi-join analytical (TPC-H-shaped) queries, and the raw-SQL
frontend (SURVEY.md §2B continuation).

Same contract as operators.relational: lazy builders + DuckDB oracle
SQL, deterministic outputs, decimal-sum pattern for float aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import davg, davg_sql, dsum
from ..plans.spec import Query
from ..sources.catalog import load_table, register_views


# --- subqueries ---------------------------------------------------------------

def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The subquery surface in one query: a scalar subquery (global
    average price), a correlated EXISTS, and a NOT IN anti-subquery
    (former subquery_exists entry, folded in).

    DataFrame composition mirrors what Catalyst rewrites each form into:
    the scalar subquery is a crossJoin with a broadcast 1-row aggregate,
    EXISTS decorrelates to a left-semi join, NOT IN to a (null-aware)
    left-anti join — verify with .explain.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    avg_price = o.agg(davg("o_totalprice", "avg_price", 6))
    bulk = li.where(F.col("l_quantity") > 45).select("l_orderkey")
    machinery = c.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    return (
        o.crossJoin(F.broadcast(avg_price))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .join(bulk, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(machinery, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


SQL_SUBQUERY_SCALAR = f"""
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT {davg_sql("o_totalprice", "avg_price")}
  FROM orders
)
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
  AND o.o_custkey NOT IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'MACHINERY')
"""


# --- percentile / pivot --------------------------------------------------------

def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per group.

    ``F.percentile`` is the exact (sort-based) aggregate — deterministic,
    unlike approx_percentile — and matches DuckDB's quantile_cont.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90_price"),
        F.count("*").alias("n_rows"),
    )


SQL_AGG_PERCENTILE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch) graded as an
    accuracy contract, the same pattern as ``agg_distinct``'s HLL++.

    ``percentile_approx`` is THE quantile at 100 TB: constant-size
    mergeable sketch, one shuffle of sketches, versus the exact
    aggregate's per-group sort. Its value is sketch- and layout-
    specific, so the oracle checks the GK guarantee instead: with
    accuracy=1000 the rank error is ≤ 0.1%, so the approximate median
    must land within the exact [p49, p51] value band (a 10× safety
    margin). ``approx_median_ok`` is that boolean; the oracle's side is
    literal TRUE next to exact medians it recomputes with
    ``quantile_cont``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000))
    lo = F.percentile("l_extendedprice", F.lit(0.49))
    hi = F.percentile("l_extendedprice", F.lit(0.51))
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("median_exact"),
        ((approx >= lo) & (approx <= hi)).alias("approx_median_ok"),
    )


SQL_AGG_APPROX_QUANTILE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_exact,
       TRUE AS approx_median_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot roundtrip: order counts per priority (rows) ×
    status (columns), then melted back to long (measure, n) rows —
    both reshape directions in one plan (former separate pivot and
    unpivot entries).

    ``.pivot`` with an explicit value list — never the value-discovering
    form, which costs an extra scan and breaks plan determinism. The
    unpivot runs as a Generate (row expansion), no extra shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
        )
    )
    return wide.unpivot(
        ["o_orderpriority"], ["n_f", "n_o", "n_p"], "status_col", "n"
    )


SQL_PIVOT = """
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, name AS status_col, n
FROM wide UNPIVOT (n FOR name IN (n_f, n_o, n_p))
"""


# --- skew-aware join -----------------------------------------------------------

N_SALTS = 8


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: explicit skew mitigation with identical semantics.

    Pattern: add salt = hash(row) % N to the skewed (fact) side,
    replicate the dim side N×, join on (key, salt). Verified against
    the plain-join oracle — the result must be identical. At scale this
    (or AQE skew-split) is what stops one hot key from pinning a task.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    salted_fact = li.withColumn(
        "_salt", (F.xxhash64("l_orderkey", "l_linenumber") % N_SALTS + N_SALTS) % N_SALTS
    )
    salts = spark.range(N_SALTS).select(F.col("id").cast("int").alias("_salt"))
    replicated_dim = p.crossJoin(F.broadcast(salts))
    return (
        salted_fact.join(
            replicated_dim,
            (F.col("l_partkey") == F.col("p_partkey"))
            & (salted_fact["_salt"] == replicated_dim["_salt"]),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice", "brand_revenue"))
    )


SQL_JOIN_SKEW_SALTED = """
SELECT p_brand, COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,8))), 2) AS DOUBLE) AS brand_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --- SQL frontend (TPC-H Q5 text) ----------------------------------------------

def q_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL surface: IDENTICAL query text runs on spark.sql and
    on the DuckDB oracle — users can bring ANSI SQL instead of DataFrame
    code. The text is the TPC-H Q5 shape (revenue where supplier and
    customer share a nation): a 6-table join where Catalyst broadcasts
    the nation/region dims from stats and AQE handles the rest — the
    declarative twin of the hand-tuned DataFrame joins in
    ``operators.relational``.
    """
    register_views(spark, sf_dir)
    return spark.sql(SQL_SQL_FRONTEND)


SQL_SQL_FRONTEND = """
SELECT r_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


QUERIES: list[Query] = [
    Query("subquery_scalar", q_subquery_scalar, SQL_SUBQUERY_SCALAR),
    Query("agg_percentile", q_agg_percentile, SQL_AGG_PERCENTILE),
    Query("agg_approx_quantile", q_agg_approx_quantile, SQL_AGG_APPROX_QUANTILE),
    Query("pivot", q_pivot, SQL_PIVOT),
    Query("join_skew_salted", q_join_skew_salted, SQL_JOIN_SKEW_SALTED),
    Query("sql_frontend", q_sql_frontend, SQL_SQL_FRONTEND, bench=True),
]
