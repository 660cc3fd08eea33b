"""Layer-A reference parity: the S3→zip→CSV→verify→project→Parquet pipeline.

This is the *entire* behavior of the reference program
(``/root/reference/src/main.rs``), re-expressed as idiomatic PySpark:

- A1 S3 get           → :func:`..sources.s3.fetch_s3` (or s3a:// direct)
- A2 zip extract      → :func:`..sources.zipsource.extract_zip`
- A3 CSV scan         → one ``spark.read.csv`` with an explicit schema
                        (the reference parses the file TWICE with
                        inferred types, main.rs:83-87 + 131-135; we scan
                        once, lazily)
- A4 column verify    → :func:`verify_columns` — name-only diff,
                        warn-missing / info-unexpected / never abort
                        (main.rs:113-126)
- A5 projection       → ``df.select`` of the 8 target columns
                        (main.rs:137-148); Catalyst prunes the scan
- A6 parquet sink     → ``df.write.parquet`` (directory-of-parts;
                        single-file layout parity is a non-goal)
- A7 warm/cold branch → exists-check short-circuit (main.rs:36)
- A8 config           → same env var names: UNZIPPED_DATA_1, BUCKET,
                        OBJECT, DESTINATION (main.rs:34,45-47)

A deliberate fix vs the reference (SURVEY.md §3 quirk): the cold path
derives the CSV location from the extraction output instead of trusting
``UNZIPPED_DATA_1`` to point into the extraction dir.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from .session import tune
from .sources.s3 import fetch_s3
from .sources.sinks import write_parquet
from .sources.zipsource import extract_zip, is_csv_entry

logger = logging.getLogger(__name__)

# The 19 expected input columns, names verbatim from main.rs:90-110
# (including the reference's spellings "Percipitation"/"Vegitation" —
# the verifier does literal string matching).
EXPECTED_COLUMNS: tuple[str, ...] = (
    "Date",
    "NO2",
    "O3",
    "PM10",
    "PM2.5",
    "Latitude",
    "Longitude",
    "station_name",
    "Wind-Speed (U)",
    "Wind-Speed (V)",
    "Dewpoint Temp",
    "Soil Temp",
    "Total Percipitation",
    "Vegitation (High)",
    "Vegitation (Low)",
    "Temp",
    "Relative Humidity",
    "code",
    "id",
)

# The 8 projected output columns, order verbatim from main.rs:137-146.
SELECTED_COLUMNS: tuple[str, ...] = (
    "Date",
    "NO2",
    "O3",
    "PM10",
    "PM2.5",
    "Latitude",
    "Longitude",
    "station_name",
)

_MEASURES = {
    c
    for c in EXPECTED_COLUMNS
    if c not in {"Date", "station_name", "code", "id"}
}


def airquality_schema(columns: tuple[str, ...] = EXPECTED_COLUMNS) -> StructType:
    """Explicit schema for the air-quality CSV (no inferSchema double-scan)."""
    fields = []
    for c in columns:
        if c == "id":
            t = LongType()
        elif c in _MEASURES:
            t = DoubleType()
        else:
            t = StringType()  # Date kept as string: the reference never parses it
        fields.append(StructField(c, t, nullable=True))
    return StructType(fields)


@dataclass
class VerifyReport:
    """Outcome of the name-only schema check (reference A4 semantics)."""

    missing: list[str] = field(default_factory=list)
    unexpected: list[str] = field(default_factory=list)

    @property
    def all_present(self) -> bool:
        return not self.missing


def verify_columns(
    source: DataFrame | list[str], expected: tuple[str, ...] = EXPECTED_COLUMNS
) -> VerifyReport:
    """Diff actual vs expected column names; log, never abort.

    warn per missing (main.rs:115), info per unexpected (main.rs:122),
    success line when complete (main.rs:126). Types are not checked —
    faithful to the reference. ``source`` is the ACTUAL column list
    (from :func:`csv_header_columns`) or a DataFrame whose columns came
    from the file itself — never a schema-forced read, whose columns
    are the schema's by construction.
    """
    actual = set(source.columns if isinstance(source, DataFrame) else source)
    report = VerifyReport(
        missing=[c for c in expected if c not in actual],
        unexpected=sorted(actual - set(expected)),
    )
    for c in report.missing:
        logger.warning("expected column missing from input: %r", c)
    for c in report.unexpected:
        logger.info("unexpected column present in input: %r", c)
    if report.all_present:
        logger.info("all %d expected columns present", len(expected))
    return report


def read_csv(spark: SparkSession, csv_path: str, *, schema: StructType) -> DataFrame:
    """A3: CSV scan with an explicit schema — inference would cost an
    extra pass over the data (the reference paid that price twice per
    run)."""
    tune(spark)
    return spark.read.option("header", True).schema(schema).csv(csv_path)


def csv_header_columns(spark: SparkSession, csv_path: str) -> list[str]:
    """The ACTUAL header row of the CSV (one-line read, no full scan).

    Needed because reading with an explicit schema ignores the file
    header entirely (enforceSchema) — a name check against such a
    DataFrame would be vacuous and, worse, a missing column would
    positionally misalign every later value.
    """
    first = spark.read.text(csv_path).first()
    if first is None:
        return []
    return [c.strip().strip('"') for c in first.value.split(",")]


def project_selected(df: DataFrame) -> DataFrame:
    """A5: select the 8 target columns (backticks handle 'PM2.5')."""
    return df.select(*[F.col(f"`{c}`") for c in SELECTED_COLUMNS])


def ingest_csv(
    spark: SparkSession,
    csv_path: str,
    out_path: str,
    *,
    expected: tuple[str, ...] = EXPECTED_COLUMNS,
) -> VerifyReport:
    """header-check → verify → typed scan → project → write.

    The explicit scan schema is built from the file's ACTUAL header
    (types assigned by name), so a missing column can never positionally
    misalign the others; the verifier warns (never aborts), and — as in
    the reference — it is the projection that fails hard when a selected
    column is absent.
    """
    actual = csv_header_columns(spark, csv_path)
    report = verify_columns(actual, expected)
    df = read_csv(spark, csv_path, schema=airquality_schema(tuple(actual)))
    write_parquet(project_selected(df), out_path)
    return report


def run_pipeline(
    spark: SparkSession,
    *,
    unzipped_data: str | None = None,
    bucket: str | None = None,
    object_key: str | None = None,
    destination: str | None = None,
    zip_path: str = "data/zip/data.zip",
    unzip_dir: str = "data/unzipped",
    out_path: str = "data/datafile.parquet",
) -> VerifyReport:
    """The reference's ``main()`` control flow (A7 warm/cold branch).

    Warm path: extracted CSV exists → verify/project/write directly.
    Cold path: fetch from S3, extract, then ingest the extracted CSV
    (derived from the extraction output — the documented fix).
    """
    unzipped_data = unzipped_data or os.environ.get("UNZIPPED_DATA_1", "")
    if unzipped_data and os.path.exists(unzipped_data):
        logger.info("warm path: %s exists, skipping fetch+unzip", unzipped_data)
        return ingest_csv(spark, unzipped_data, out_path)

    destination = destination or os.environ.get("DESTINATION", zip_path)
    if os.path.exists(destination):
        # zip already local: no S3 creds/env needed (A7 short-circuit
        # applies BEFORE the env reads, not after)
        logger.info("destination %s exists; skipping S3 fetch", destination)
    else:
        bucket = bucket or os.environ["BUCKET"]
        object_key = object_key or os.environ["OBJECT"]
        fetch_s3(bucket, object_key, destination)
    extracted = extract_zip(destination, unzip_dir)
    csvs = [p for p in extracted if is_csv_entry(p)]
    if not csvs:
        raise FileNotFoundError(f"no CSV entries found in {destination}")
    return ingest_csv(spark, csvs[0], out_path)
