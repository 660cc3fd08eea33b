"""Relational: null-safe joins and the regexp function surface.

Reference scope note: absent from the reference (SURVEY.md §2A is its
whole surface); §2B [EXT] operators per the driver contract.

Bitwise aggregates live in agg_argminmax, unpivot in pivot's
roundtrip, and the keep-first window pattern in join_asof/window_rank
and the streaming dropDuplicates tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.spec import Query
from ..sources.catalog import load_table


def q_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp surface over document text: extract-first, extract-all
    (array), boolean match, and group-referencing replace. All JVM
    regex engines — but note Spark uses Java regex and DuckDB uses RE2;
    the patterns here stay in the common subset (no backrefs in
    patterns, POSIX classes spelled explicitly).

    The extract-all array is serialized with ``array_join`` in the
    final projection — the driver's canonicalizer cannot hash array
    cells (round-1 fail), and a joined string of string matches is
    engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.array_join(
            F.regexp_extract_all("text", F.lit("[0-9]+")), ","
        ).alias("numbers"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"))).alias("n_numbers"),
        F.col("text").rlike("data").alias("mentions_data"),
        F.regexp_replace("text", "[aeiou]", "_").alias("devoweled"),
    )


SQL_REGEXP_FUNCS = """
SELECT doc_id,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       COALESCE(array_to_string(regexp_extract_all(text, '[0-9]+'), ','), '') AS numbers,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
       regexp_matches(text, 'data') AS mentions_data,
       regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled
FROM documents
"""


def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): rows with
    null keys match each other instead of disappearing — the behavior
    audits and SCD merges usually want. Planted nulls (every 7th
    event's type) make the difference visible against a plain join."""
    ev = load_table(spark, sf_dir, "events")
    typed = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 != 0, F.col("event_type")).alias("et"),
    )
    counts = (
        typed.groupBy("et")
        .agg(F.count("*").alias("n_of_type"))
        .withColumnRenamed("et", "cet")
    )
    return typed.join(
        counts, F.col("et").eqNullSafe(F.col("cet")), "inner"
    ).select("event_id", F.col("et").alias("event_type"), "n_of_type")


SQL_JOIN_NULL_SAFE = """
WITH typed AS (
  SELECT event_id,
         CASE WHEN event_id % 7 <> 0 THEN event_type END AS et
  FROM events
),
counts AS (SELECT et, COUNT(*) AS n_of_type FROM typed GROUP BY et)
SELECT t.event_id, t.et AS event_type, c.n_of_type
FROM typed t JOIN counts c ON t.et IS NOT DISTINCT FROM c.et
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from an event
    log: per user, order value observations by event time, collapse
    runs of unchanged values, and emit versioned rows with
    ``valid_from`` / ``valid_to`` / ``is_current`` — the batch
    equivalent of a warehouse MERGE pipeline.

    Two windows over the same (user_id → ts, event_id) partitioning:
    the change filter (null-safe lag compare) and the validity range
    (lead). Catalyst plans ONE sort+shuffle and runs both window
    functions over it. Keys are user_id — uniform, no skew; state per
    partition is one user's history, so the plan survives any corpus
    where single-key history fits an executor (the same bound every
    SCD2 build has).
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("prev_value", F.lag("value").over(w))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) | ~F.col("value").eqNullSafe(F.col("prev_value")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changed.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        "value",
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


SQL_SCD2_HISTORY = """
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         lag(value) OVER w AS prev_value,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, ts, event_id, value
  FROM ordered
  WHERE rn = 1 OR value IS DISTINCT FROM prev_value
)
SELECT user_id, ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       value,
       lead(ts) OVER w2 IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


QUERIES: list[Query] = [
    Query("regexp_funcs", q_regexp_funcs, SQL_REGEXP_FUNCS),
    Query("join_null_safe", q_join_null_safe, SQL_JOIN_NULL_SAFE),
    Query("scd2_history", q_scd2_history, SQL_SCD2_HISTORY),
]
