"""Query specification record shared by all operator modules."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One SURVEY.md §2 operator exposed through ``__spark_entry__``.

    - ``fn(spark, sf_dir)`` returns a *lazy* DataFrame.
    - ``oracle`` is the ANSI-SQL equivalent DuckDB runs on the same
      parquet tables; ``None`` → the driver records a rows-only check
      (reserved for genuinely non-SQL-expressible / approximate ops).
    - Every computed column is aliased identically on both sides (the
      driver sorts columns by name before value-hashing).
    """

    name: str
    fn: QueryFn
    oracle: str | None
    bench: bool = False  # include in bench.py's headline suite
