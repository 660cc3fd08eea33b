"""Relational: higher-order array functions.

Reference scope note: the reference (/root/reference/src/main.rs, 208
lines) has no joins, aggregations, or windows — its whole operator
surface is SURVEY.md §2A. These are §2B [EXT] operators mandated by the
driver contract (BASELINE.json:6).

The TPC-H Q16/Q18 shapes and topk_per_group are covered by sql_frontend's Q5 text, subquery_scalar's NOT IN anti-join,
agg_distinct's count-distinct, and window_rank's group-limit filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.spec import Query
from ..sources.catalog import load_table


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function surface over the embedding column:
    filter / exists / fold / min-max / slice — all Catalyst
    expressions, no UDFs, so they run inside whole-stage codegen.

    The fold accumulates left-to-right in array order in double
    precision, the same order DuckDB's ``list_sum`` uses on DOUBLE[],
    so even the float reduction carries an exact oracle.

    Final projection is all scalars: the driver's canonicalizer cannot
    hash array cells (round-1 fail), so the ``slice`` demo folds its
    4-element head to a rounded sum instead of emitting the array.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    as_double = F.transform(e, lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        F.exists(e, lambda x: x > 0.5).alias("any_big"),
        F.round(
            F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("esum"),
        F.array_max(as_double).alias("emax"),
        F.array_min(as_double).alias("emin"),
        F.round(
            F.aggregate(
                F.slice(as_double, 1, 4), F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("head4_sum"),
    )


SQL_HIGHER_ORDER_FUNCS = """
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       len(list_filter(embedding, x -> x > 0.5)) > 0 AS any_big,
       ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6) AS esum,
       list_max(CAST(embedding AS DOUBLE[])) AS emax,
       list_min(CAST(embedding AS DOUBLE[])) AS emin,
       ROUND(list_sum(list_slice(CAST(embedding AS DOUBLE[]), 1, 4)), 6) AS head4_sum
FROM embeddings
"""


QUERIES: list[Query] = [
    Query("higher_order_funcs", q_higher_order_funcs, SQL_HIGHER_ORDER_FUNCS),
]
