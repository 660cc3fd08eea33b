"""Layer-A parity as an oracle-graded registry entry.

The reference's one true workload (main.rs:36-79: zip extract → CSV
scan → name-only verify → 8/19-column projection → parquet sink) runs
here end-to-end against a synthesized air-quality CSV derived
DETERMINISTICALLY from the lineitem fixture, so the external harness
can hash-check the pipeline's output against a plain SQL projection of
the same source rows.

Why the round trip is exact: every CSV cell either is a string column
or round-trips losslessly — Spark's CSV writer emits doubles in
shortest-round-trip form (Java ``Double.toString``), so parsing the
cell back yields the bit-identical double the parquet fixture held,
and the oracle can read the fixture directly.

Reference parity map (file:line of /root/reference/src/main.rs):
zip extract main.rs:153-170 → sources.zipsource.extract_zip; CSV scan
main.rs:83-87,131-135 → ingest.read_csv (single scan, explicit
schema); verify main.rs:82-128 → ingest.verify_columns; projection
main.rs:130-151 → ingest.project_selected; parquet sink main.rs:41-42
→ sources.sinks.write_parquet; control flow main.rs:28-79 →
ingest.run_pipeline (exercised on its destination-exists
short-circuit arm).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import fixture_fingerprint, sweep_stale_siblings
from ..ingest import run_pipeline
from ..plans.spec import Query
from ..sources.catalog import load_table

# Deterministic source subset: every 8th order's lineitems.
_ROW_FILTER_MOD = 8


def _airquality_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 19-column air-quality-shaped frame, derived from lineitem.

    Column names verbatim from main.rs:90-110 (including the
    reference's spellings); measure columns carry real fixture doubles
    so the oracle comparison is not vacuous, the rest are deterministic
    fillers (they are dropped by the 8-column projection anyway).
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % _ROW_FILTER_MOD == 0
    )
    d = F.col("l_discount")
    return li.select(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("Date"),
        F.col("l_quantity").alias("NO2"),
        F.col("l_extendedprice").alias("O3"),
        F.col("l_discount").alias("PM10"),
        F.col("l_tax").alias("PM2.5"),
        F.col("l_orderkey").cast("double").alias("Latitude"),
        F.col("l_partkey").cast("double").alias("Longitude"),
        F.col("l_returnflag").alias("station_name"),
        d.alias("Wind-Speed (U)"),
        d.alias("Wind-Speed (V)"),
        d.alias("Dewpoint Temp"),
        d.alias("Soil Temp"),
        d.alias("Total Percipitation"),
        d.alias("Vegitation (High)"),
        d.alias("Vegitation (Low)"),
        F.col("l_quantity").alias("Temp"),
        F.col("l_tax").alias("Relative Humidity"),
        F.col("l_linestatus").alias("code"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
    )


def q_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full Layer-A pipeline and return its parquet output.

    Synthesize CSV → zip it → ``run_pipeline`` (destination-exists
    short-circuit → extract → header-check/verify → typed single scan →
    project 8/19 → parquet) → read the sink back. The driver hashes the
    result against the oracle's direct projection of the same lineitem
    rows, giving the reference-parity layer a real correctness row
    instead of pytest-only evidence.

    Every file lands in one fixture-fingerprint-keyed temp dir (the
    ``orc_interop`` rule), overwritten on each call, so repeated calls
    reuse one dir instead of leaving one behind each.
    """
    name = f"spark_graft_parity_{fixture_fingerprint(sf_dir, 'lineitem')}"
    sweep_stale_siblings("spark_graft_parity_", name)
    tmp = os.path.join(tempfile.gettempdir(), name)
    csv_dir = os.path.join(tmp, "csv_out")
    _airquality_frame(spark, sf_dir).coalesce(1).write.mode(
        "overwrite"
    ).option("header", True).csv(csv_dir)
    part = next(
        os.path.join(csv_dir, f)
        for f in sorted(os.listdir(csv_dir))
        if f.endswith(".csv")
    )
    zip_path = os.path.join(tmp, "data.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.write(part, arcname="airquality.csv")

    out_path = os.path.join(tmp, "datafile.parquet")
    unzip_dir = os.path.join(tmp, "unzipped")
    # a previous call's extraction would send run_pipeline down its
    # warm path; the lane exercises the extract arm
    shutil.rmtree(unzip_dir, ignore_errors=True)
    report = run_pipeline(
        spark,
        unzipped_data=os.path.join(unzip_dir, "airquality.csv"),
        destination=zip_path,
        unzip_dir=unzip_dir,
        out_path=out_path,
    )
    assert report.all_present, f"verifier reported missing: {report.missing}"
    return spark.read.parquet(out_path)


SQL_INGEST_PARITY = f"""
SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS "Date",
       l_quantity      AS "NO2",
       l_extendedprice AS "O3",
       l_discount      AS "PM10",
       l_tax           AS "PM2.5",
       CAST(l_orderkey AS DOUBLE) AS "Latitude",
       CAST(l_partkey  AS DOUBLE) AS "Longitude",
       l_returnflag    AS "station_name"
FROM lineitem
WHERE l_orderkey % {_ROW_FILTER_MOD} = 0
"""


QUERIES: list[Query] = [
    Query("ingest_parity", q_ingest_parity, SQL_INGEST_PARITY),
]
