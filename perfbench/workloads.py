"""The two workloads: their inputs, set-up artifacts, ops and checks.

Each workload is a fixed sequence of ops run in one pass. An op calls
the package's public functions, forces its result, and knows how to
check what it produced. Lanes (registry queries) are forced through
Spark's ``noop`` sink, as ``bench.py`` does; the ingestion ops write
real parquet through ``sources.sinks.write_parquet``. Why these two
workloads, and which lanes were left out, is in ``DESIGN.md``.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

import gen

# The checks keep their own copy of the reference's column lists, so a
# change to the package's constants cannot move the expected output too.
SELECTED = ("Date", "NO2", "O3", "PM10", "PM2.5", "Latitude", "Longitude", "station_name")
ETL_OPS = ("pipeline_one", "zip_scan", "readback", "lineitem_write")
LINEITEM_COLS = (
    "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_returnflag", "l_linestatus", "l_shipdate",
)


@dataclass(frozen=True)
class Workload:
    name: str
    lanes: tuple[str, ...]  # registry lanes, each with a DuckDB oracle
    artifacts: tuple[str, ...]  # persisted artifacts built cold in set-up
    fixture: dict[str, int]  # gen.fixture_sizes arguments
    nominal_pass_s: float  # a steady pass on a quiet 4-vCPU host
    archives: int = 0
    rows_per_archive: int = 0

    @property
    def op_names(self) -> tuple[str, ...]:
        return (ETL_OPS if self.archives else ()) + self.lanes


# Lane sets are small on purpose: some twenty runs per workload must fit
# about an hour on a 4-core host, and each run launches the JVM and
# builds its artifacts three times before its first timed pass.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_ingest",
            lanes=("orc_interop",),
            artifacts=(),
            fixture={"docs": 500, "vecs": 500, "lines": 120_000},
            nominal_pass_s=2.8,
            archives=16,
            rows_per_archive=15_000,
        ),
        Workload(
            "llm_dedup",
            lanes=("dedup_fuzzy",),
            artifacts=("refpairs",),
            fixture={"docs": 1000, "vecs": 500, "lines": 12_000},
            nominal_pass_s=2.2,
        ),
    )
}

OP_METRICS = {
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.driver_gap_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.shuffle_write_bytes": "bytes",
}
LANE_METRICS = {"plans.build_s": "s", "plans.catalyst_s": "s"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in a fixed order."""
    units = {"session.start_s": "s"}
    for w in WORKLOADS.values():
        for ns in w.artifacts:
            units[f"artifacts.build_s.{ns}"] = "s"
    units.update({
        "artifacts.load_verify_s": "s",
        "artifacts.rebuilds": "count",
        "ingest.header_s": "s",
        "ingest.verify_s": "s",
        "ingest.ingest_csv_s": "s",
        "sources.extract_s": "s",
        "sources.zip_scan_s": "s",
        "sources.write_s": "s",
        "sources.readback_s": "s",
        "sources.bytes_written": "bytes",
        "sources.files_written": "count",
        "sources.out_bytes_per_in_byte": "ratio",
        "operators.tasks_failed": "count",
        "trace.pass_s": "s",
        "trace.op_cover": "ratio",
    })
    for w in WORKLOADS.values():
        for op in w.op_names:
            metrics = {**OP_METRICS, **(LANE_METRICS if op in w.lanes else {})}
            units.update({f"{m}.{op}": unit for m, unit in metrics.items()})
    return units


def artifact_helpers() -> dict[str, Callable]:
    """Artifact namespace -> the package function that builds it."""
    from data_ingestion_s3_to_parquet_spark.operators import dedup

    return {"refpairs": dedup._ref_pairs}


def drop_artifact_store(ns: str) -> None:
    # artifacts.persisted_frame keys its store under the temp dir
    shutil.rmtree(os.path.join(tempfile.gettempdir(), f"spark_graft_{ns}"), ignore_errors=True)


def generate(w: Workload, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs into ``out_dir``; return their manifest."""
    sf_dir = os.path.join(out_dir, "tables")
    gen.fixture_tables(sf_dir, seed, gen.fixture_sizes(**w.fixture))
    manifest = {"sf_dir": sf_dir, "archives": []}
    if w.archives:
        manifest["archives"] = gen.airquality_archives(
            os.path.join(out_dir, "airquality"), seed, w.archives, w.rows_per_archive
        )
    return manifest


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [
        f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
    ]
    return sum(os.path.getsize(f) for f in files), len(files)


class Op:
    """One step of a pass. ``run`` is timed; ``check`` is not.

    ``check`` runs once, after the timed passes, and returns a
    description of what is wrong, or None.
    """

    name: str

    def run(self, ctx) -> None:
        raise NotImplementedError

    def check(self, ctx) -> str | None:
        raise NotImplementedError


class LaneOp(Op):
    """A registry lane forced through the noop sink.

    The noop sink keeps nothing to read back, so its check runs the lane
    once more, collects the output and compares the order-insensitive
    value multiset with DuckDB's result for the lane's oracle SQL, by
    the rules of ``tools/oracle_check.py``.
    """

    def __init__(self, lane: str) -> None:
        from data_ingestion_s3_to_parquet_spark.plans.registry import EXTRA, REGISTRY

        self.name = lane
        self.query = {**REGISTRY, **EXTRA}[lane]
        if self.query.oracle is None:
            raise ValueError(f"lane {lane} has no oracle to check against")

    def build(self, ctx):
        with ctx.tracer.span("plans.build", op=self.name):
            return self.query.fn(ctx.spark, ctx.sf_dir)

    def run(self, ctx) -> None:
        ctx.spark.catalog.clearCache()
        df = self.build(ctx)
        if ctx.tracer.enabled:
            from tracing import catalyst_s

            with ctx.tracer.span("plans.catalyst", op=self.name) as sp:
                sp.attrs["catalyst_s"] = catalyst_s(df)
        with ctx.tracer.span("operators.execute", op=self.name):
            df.write.format("noop").mode("overwrite").save()

    def check(self, ctx) -> str | None:
        from tools.oracle_check import run_duckdb, to_multiset

        ctx.spark.catalog.clearCache()
        pdf = self.build(ctx).toPandas()
        got = to_multiset(list(pdf.columns), pdf.itertuples(index=False, name=None))
        want = to_multiset(*run_duckdb(self.query.oracle, ctx.sf_dir))
        if not got:
            return f"{self.name}: empty output"
        if got != want:
            return f"{self.name}: {sum(got.values())} rows differ from DuckDB's {sum(want.values())}"
        return None


def _signature(con, relation: str, cols) -> tuple[int, int]:
    """Row count and an order-insensitive sum of row hashes."""
    names = ", ".join(f'"{c}"' for c in cols)
    return con.sql(
        f"SELECT count(*), coalesce(sum(hash({names})::HUGEINT), 0) FROM ({relation})"
    ).fetchone()


def _csv_relation(csv_paths: list[str]) -> str:
    """DuckDB's read of the air-quality CSVs, projected to the 8 columns.

    Types are pinned to the pipeline's (Date stays a string) and
    ``union_by_name`` lines up archives whose headers dropped or added
    a column.
    """
    files = ", ".join(f"'{p}'" for p in csv_paths)
    types = {c: "DOUBLE" for c in SELECTED if c not in ("Date", "station_name")}
    types.update({"Date": "VARCHAR", "station_name": "VARCHAR"})
    type_sql = ", ".join(f"'{k}': '{v}'" for k, v in types.items())
    cols = ", ".join(f'"{c}"' for c in SELECTED)
    return (
        f"SELECT {cols} FROM read_csv([{files}], header=true, union_by_name=true, "
        f"types={{{type_sql}}})"
    )


def _parquet_relation(path_glob: str, cols) -> str:
    names = ", ".join(f'"{c}"' for c in cols)
    return f"SELECT {names} FROM read_parquet('{path_glob}')"


class EtlOp(Op):
    """An ingestion op that writes parquet, checked against DuckDB."""

    def __init__(self, name: str, body: Callable, expected: Callable) -> None:
        self.name = name
        self.body = body  # (ctx) -> None; writes to ctx.out(name)
        self.expected = expected  # (ctx) -> (DuckDB relation SQL, columns)

    def run(self, ctx) -> None:
        with ctx.tracer.span("operators.execute", op=self.name):
            self.body(ctx)

    def check(self, ctx) -> str | None:
        import duckdb

        out = ctx.out(self.name)
        want_sql, cols = self.expected(ctx)
        con = duckdb.connect()
        try:
            got = _signature(con, _parquet_relation(f"{out}/*.parquet", cols), cols)
            want = _signature(con, want_sql, cols)
        finally:
            con.close()
        if got[0] == 0 or got != want:
            return f"{self.name}: wrote {got[0]} rows, DuckDB reads {want[0]} from the input (or values differ)"
        return None


class ReadbackOp(Op):
    """Scan back what the zip scan wrote. Its check counts the rows
    Spark reads back against DuckDB's count of the same files (the zip
    scan's own check ties those files to the CSVs)."""

    name = "readback"

    def run(self, ctx) -> None:
        with ctx.tracer.span("sources.readback", op=self.name):
            ctx.spark.read.parquet(ctx.out("zip_scan")).write.format("noop").mode(
                "overwrite"
            ).save()

    def check(self, ctx) -> str | None:
        import duckdb

        n = ctx.spark.read.parquet(ctx.out("zip_scan")).count()
        con = duckdb.connect()
        try:
            rel = _parquet_relation(f"{ctx.out('zip_scan')}/*.parquet", SELECTED)
            want = con.sql(f"SELECT count(*) FROM ({rel})").fetchone()[0]
        finally:
            con.close()
        return None if n == want else f"readback: Spark reads {n} rows, DuckDB {want}"


def _pipeline_one(ctx) -> None:
    from data_ingestion_s3_to_parquet_spark.ingest import run_pipeline

    run_pipeline(
        ctx.spark,
        unzipped_data="",
        destination=ctx.archives[0]["zip"],
        unzip_dir=ctx.out("unzipped"),
        out_path=ctx.out("pipeline_one"),
    )


def _zip_scan(ctx) -> None:
    from data_ingestion_s3_to_parquet_spark.ingest import airquality_schema, project_selected
    from data_ingestion_s3_to_parquet_spark.sources.sinks import write_parquet
    from data_ingestion_s3_to_parquet_spark.sources.zipsource import read_zipped_csvs

    zips = os.path.join(os.path.dirname(ctx.archives[0]["zip"]), "*.zip")
    with ctx.tracer.span("sources.zip_scan"):
        df = read_zipped_csvs(ctx.spark, zips, airquality_schema())
        with ctx.tracer.span("sources.write"):
            write_parquet(project_selected(df), ctx.out("zip_scan"))


def _lineitem_write(ctx) -> None:
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table
    from data_ingestion_s3_to_parquet_spark.sources.sinks import write_parquet

    df = load_table(ctx.spark, ctx.sf_dir, "lineitem").select(*LINEITEM_COLS)
    with ctx.tracer.span("sources.write"):
        write_parquet(df, ctx.out("lineitem_write"))


def build_ops(w: Workload) -> list[Op]:
    ops: list[Op] = []
    if w.name == "etl_ingest":
        ops += [
            EtlOp(
                "pipeline_one",
                _pipeline_one,
                lambda ctx: (_csv_relation([ctx.archives[0]["csv"]]), SELECTED),
            ),
            EtlOp(
                "zip_scan",
                _zip_scan,
                lambda ctx: (_csv_relation([a["csv"] for a in ctx.archives]), SELECTED),
            ),
            ReadbackOp(),
            EtlOp(
                "lineitem_write",
                _lineitem_write,
                lambda ctx: (
                    _parquet_relation(os.path.join(ctx.sf_dir, "lineitem.parquet"), LINEITEM_COLS),
                    LINEITEM_COLS,
                ),
            ),
        ]
    ops += [LaneOp(lane) for lane in w.lanes]
    return ops

