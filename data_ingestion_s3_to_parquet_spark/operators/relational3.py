"""Coverage completion: arg-extreme + bitwise aggregates, datetime
surface, and the Arrow-batched UDF family (GROUPED_AGG UDAF,
mapInPandas UDTF-shape).

Range frames, string collect, conditional aggregates, null handling and
union-by-name are covered by the relational.py entries (window_analytic,
join_broadcast, agg_group, scalar_funcs, set_ops).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..plans.spec import Query
from ..session import tune
from ..sources.catalog import load_table, spread


def q_agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extreme + bitwise aggregates per event type: min_by / max_by
    find the event holding each group's value extreme, and
    bit_and / bit_or / bit_xor fold the user-id bitmaps (former
    agg_bitwise entry — flag-mask folding; associative and commutative,
    so fully map-side-combinable).

    Arg-extreme determinism: both engines pick ONE extreme row but tie
    order is engine-specific, so the comparator packs
    (value-in-cents, event_id) into a single exact int64 — an
    unambiguous total order for identical extreme selection everywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    rank_key = (
        F.round(F.col("value") * 100).cast("long") * 10_000_000_000
        + F.col("event_id")
    )
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", rank_key).alias("peak_event"),
        F.min_by("event_id", rank_key).alias("low_event"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
        F.bit_and("user_id").alias("mask_and"),
        F.bit_or("user_id").alias("mask_or"),
        F.bit_xor("user_id").alias("mask_xor"),
        F.count("*").alias("n"),
    )


SQL_AGG_ARGMINMAX = """
SELECT event_type,
       arg_max(event_id, CAST(ROUND(value * 100) AS BIGINT) * 10000000000 + event_id) AS peak_event,
       arg_min(event_id, CAST(ROUND(value * 100) AS BIGINT) * 10000000000 + event_id) AS low_event,
       MAX(value) AS max_value,
       MIN(value) AS min_value,
       bit_and(user_id) AS mask_and,
       bit_or(user_id)  AS mask_or,
       bit_xor(user_id) AS mask_xor,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


@pandas_udf(DoubleType())
def _avg_qty_udaf(qty: pd.Series) -> float:
    # GROUPED_AGG pandas UDAF. Quantities are integer-valued doubles, so
    # the numpy sum is exact and order-independent → oracle-safe.
    return float(qty.sum() / len(qty))


def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate via pandas GROUPED_AGG (Arrow per-group).

    Spark disallows mixing GROUPED_AGG UDFs with JVM aggregates in one
    agg() — the UDAF stands alone here.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _avg_qty_udaf("l_quantity").alias("avg_qty_udaf"),
    )


SQL_UDAF_GROUPED = """
SELECT l_returnflag,
       SUM(l_quantity) / COUNT(*) AS avg_qty_udaf
FROM lineitem GROUP BY l_returnflag
"""


def q_map_in_pandas_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-shaped mapInPandas: per-document word frequencies (one input
    row → many output rows), computed in Arrow-batched pandas."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tune(spark)

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = (
                pdf.assign(word=pdf["text"].str.split(" "))
                .explode("word")
                .groupby(["doc_id", "word"], as_index=False)
                .size()
                .rename(columns={"size": "cnt"})
            )
            yield out[["doc_id", "word", "cnt"]]

    return d.select("doc_id", "text").mapInPandas(
        expand, "doc_id long, word string, cnt long"
    )


SQL_MAP_IN_PANDAS_TOKENS = """
SELECT doc_id, u.word, COUNT(*) AS cnt
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) u
GROUP BY doc_id, u.word
"""


def q_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface over event time: epoch seconds, parts, formatted
    strings (Spark ``date_format`` pattern vs DuckDB ``strftime`` —
    different pattern languages, same rendered values)."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.date_trunc("second", F.col("ts"))
    return ev.select(
        "event_id",
        F.unix_timestamp(ts).alias("epoch_s"),
        F.hour(ts).alias("ev_hour"),
        F.minute(ts).alias("ev_minute"),
        F.dayofweek(ts).alias("ev_dow"),
        F.date_format(ts, "yyyy-MM-dd HH:mm").alias("ts_fmt"),
        F.to_date(ts).alias("ev_date"),
    )


SQL_DATETIME_FUNCS = """
SELECT event_id,
       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
       CAST(hour(ts) AS INT) AS ev_hour,
       CAST(minute(ts) AS INT) AS ev_minute,
       CAST(dayofweek(ts) + 1 AS INT) AS ev_dow,
       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M') AS ts_fmt,
       CAST(ts AS DATE) AS ev_date
FROM events
"""


QUERIES: list[Query] = [
    Query("agg_argminmax", q_agg_argminmax, SQL_AGG_ARGMINMAX),
    Query("udaf_grouped", q_udaf_grouped, SQL_UDAF_GROUPED),
    Query("map_in_pandas_tokens", q_map_in_pandas_tokens, SQL_MAP_IN_PANDAS_TOKENS),
    Query("datetime_funcs", q_datetime_funcs, SQL_DATETIME_FUNCS),
]
