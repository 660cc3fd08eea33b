"""Table catalog over the driver-generated parquet fixtures.

Tables (``TESTDATA.md``): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``{sf_dir}/{name}.parquet``.

Normalization applied at load:

- ``events.ts`` is stored as parquet ``INT64 TIMESTAMP(NANOS)``, which
  Spark's vectorized reader rejects. With
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it surfaces as raw
  nanosecond ``bigint``; we convert to ``timestamp_ntz`` at microsecond
  precision (truncating, which matches DuckDB's ns→us cast truncation).
  All other timestamp columns already read natively as ``timestamp_ntz``.

Scale note: loads are plain ``spark.read.parquet`` — lazy scan nodes that
keep Catalyst free to push filters/projections into the parquet reader
(verify with ``.explain``: ``PushedFilters`` / ``ReadSchema``). No
``.cache()`` here; callers decide on materialization.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# region/nation are constant-size; supplier/part grow but stay dimension
# -sized relative to the facts).
BROADCAST_DIMS = ("region", "nation")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a lazy DataFrame, normalizing event time."""
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos → micros (integral floor-div; ts values are positive) →
        # tz-naive timestamp, matching the other tables and DuckDB.
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], ddl: str
) -> DataFrame:
    """A small driver-side table (tuples in ``ddl`` column order) as a
    one-partition DataFrame that plans as a ``LocalRelation``.

    ``spark.createDataFrame(<list>, ddl)`` pickles the rows into a
    Python RDD: every execution then runs a Python stage of
    ``defaultParallelism`` tasks, and a fresh SparkContext forks a
    Python daemon and its workers just to unpickle a few rows. Built
    column by column as a ``pyarrow.Table`` instead, the rows reach the
    JVM as one Arrow stream, Catalyst sees exact size statistics, and
    no Python worker starts — whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. Not built
    through pandas: a failed Arrow conversion there silently falls back
    to the Python RDD. One partition, because the table is driver-sized
    by construction and its scan would otherwise split it into
    ``min(rows, defaultParallelism)`` tasks."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema).coalesce(1)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for compute-heavy downstream operators.

    Small fixture tables arrive as ONE parquet file → one partition →
    serial execution no matter how many cores exist. Expression-heavy
    operators (shingling, vector math, sketches) repartition first; the
    round-robin shuffle of a few MB is noise next to 32× parallelism.
    At real scale the input already has many splits and this is a no-op.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def loop_partitions(df: DataFrame, n_rows: int) -> int:
    """Partition count for a frame an iterative loop re-reads every
    round: ≈1M rows per partition, at least one, never more than ``df``
    has now. Inherited file partitioning would make every round pay its
    map-task scheduling for a frame of a few thousand id pairs; at
    scale the count still grows with the rows."""
    return max(1, min(df.rdd.getNumPartitions(), -(-n_rows // 1_000_000)))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_evolving_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet batches whose schemas drifted over time (landed
    micro-batches gain or drop columns as upstream producers evolve).

    ``mergeSchema`` unions all footer schemas: columns absent from a
    batch surface as nulls, so downstream plans see one stable wide
    schema — the warn-missing/never-abort contract (reference A4,
    main.rs:113-124) applied to parquet instead of CSV headers.

    Scale note: schema merging reads every file FOOTER up front
    (distributed, but it is real work on millions of files). Production
    tables should pin the contract schema in a catalog and read through
    a plain ``spark.read.parquet`` instead; mergeSchema is for
    exploration and backfill over drifted history.
    """
    tune(spark)
    return spark.read.option("mergeSchema", True).parquet(*paths)
