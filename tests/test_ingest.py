"""Layer-A ingestion-parity tests (SURVEY.md §5.4).

Synthesizes the reference's 19-column air-quality CSV (FIXTURES.md §1),
zips it, runs the pipeline end-to-end, and asserts the reference's
observable behaviors: 8-column projection, row-count preservation, the
verifier's warn/info/never-abort semantics, zip-slip skip, and the
warm-path short-circuit.
"""

from __future__ import annotations

import csv
import logging
import os
import zipfile

import pytest

from data_ingestion_s3_to_parquet_spark.ingest import (
    EXPECTED_COLUMNS,
    SELECTED_COLUMNS,
    airquality_schema,
    ingest_csv,
    read_csv,
    run_pipeline,
    verify_columns,
)
from data_ingestion_s3_to_parquet_spark.sources.zipsource import (
    extract_zip,
    read_zipped_csvs,
)

N_ROWS = 120


def make_csv(path: str, columns=EXPECTED_COLUMNS, n=N_ROWS) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(columns)
        for i in range(n):
            row = []
            for c in columns:
                if c == "Date":
                    row.append(f"2023-04-{(i % 28) + 1:02d}")
                elif c == "station_name":
                    row.append(f"station_{i % 7:03d}")
                elif c == "code":
                    row.append(f"GB{i % 50:04d}A")
                elif c == "id":
                    row.append(100000 + i)
                elif c == "extra_col":
                    row.append("x")
                else:
                    row.append(round(10.0 + (i * 37 % 191) / 7.0, 3))
            w.writerow(row)


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "data.csv"
    make_csv(str(p))
    return str(p)


def test_ingest_projects_8_columns_same_rowcount(spark, csv_file, tmp_path):
    out = str(tmp_path / "out.parquet")
    report = ingest_csv(spark, csv_file, out)
    assert report.all_present and not report.unexpected
    got = spark.read.parquet(out)
    assert got.columns == list(SELECTED_COLUMNS)
    assert got.count() == N_ROWS


def test_verifier_warns_on_missing_never_aborts(spark, tmp_path, caplog):
    # drop a NON-projected column: the verifier warns from the real file
    # header and ingestion still completes (reference semantics)
    cols = tuple(c for c in EXPECTED_COLUMNS if c != "Temp")
    p = tmp_path / "missing.csv"
    make_csv(str(p), columns=cols)
    out = str(tmp_path / "missing.parquet")
    with caplog.at_level(logging.WARNING):
        report = ingest_csv(spark, str(p), out)
    assert report.missing == ["Temp"]
    assert any("Temp" in r.message for r in caplog.records)
    assert spark.read.parquet(out).count() == N_ROWS


def test_missing_column_does_not_misalign_values(spark, tmp_path):
    # regression: the scan schema is built from the ACTUAL header, so a
    # missing column must not shift later columns' values positionally
    cols = tuple(c for c in EXPECTED_COLUMNS if c != "NO2")
    p = tmp_path / "shifted.csv"
    make_csv(str(p), columns=cols)
    out = str(tmp_path / "shifted.parquet")
    with pytest.raises(Exception):
        # NO2 is a projected column: projection fails hard, like the
        # reference's .expect() after its warn-only verifier
        ingest_csv(spark, str(p), out)
    # and the non-projected columns stay aligned under the same scan
    df = read_csv(spark, str(p), schema=airquality_schema(cols))
    row = df.select("station_name", "`PM2.5`").first()
    assert row.station_name.startswith("station_")  # not a shifted number


def test_verifier_notes_unexpected_column(spark, tmp_path, caplog):
    cols = EXPECTED_COLUMNS + ("extra_col",)
    p = tmp_path / "extra.csv"
    make_csv(str(p), columns=cols)
    out = str(tmp_path / "extra.parquet")
    with caplog.at_level(logging.INFO):
        report = ingest_csv(spark, str(p), out)
    assert report.unexpected == ["extra_col"]
    assert report.all_present
    got = spark.read.parquet(out)
    assert got.columns == list(SELECTED_COLUMNS)


def test_zip_extract_skips_unsafe_entries(tmp_path):
    zpath = tmp_path / "evil.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("good.csv", "a,b\n1,2\n")
        zf.writestr("../evil.csv", "a,b\n3,4\n")
        zf.writestr("/abs/evil2.csv", "a,b\n5,6\n")
    out = tmp_path / "unzipped"
    extracted = extract_zip(str(zpath), str(out))
    assert [os.path.basename(p) for p in extracted] == ["good.csv"]
    assert not (tmp_path / "evil.csv").exists()


def test_warm_path_pipeline_end_to_end(spark, csv_file, tmp_path):
    out = str(tmp_path / "warm.parquet")
    report = run_pipeline(spark, unzipped_data=csv_file, out_path=out)
    assert report.all_present
    assert spark.read.parquet(out).count() == N_ROWS


def test_cold_path_without_s3_uses_local_zip(spark, csv_file, tmp_path, monkeypatch):
    # The S3 fetch short-circuits when the destination zip already exists
    # (reference A7 semantics applied at the fetch level).
    zpath = tmp_path / "data.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(csv_file, "data.csv")
    out = str(tmp_path / "cold.parquet")
    # no AWS env at all: the exists short-circuit must fire BEFORE the
    # BUCKET/OBJECT env reads
    monkeypatch.delenv("BUCKET", raising=False)
    monkeypatch.delenv("OBJECT", raising=False)
    report = run_pipeline(
        spark,
        unzipped_data=str(tmp_path / "does-not-exist.csv"),
        destination=str(zpath),
        unzip_dir=str(tmp_path / "unzipped"),
        out_path=out,
    )
    assert report.all_present
    assert spark.read.parquet(out).count() == N_ROWS


def test_distributed_zip_csv_scan(spark, csv_file, tmp_path):
    # The 100 TB path: binaryFile + mapInArrow decompression.
    for i in range(3):
        with zipfile.ZipFile(tmp_path / f"part{i}.zip", "w") as zf:
            zf.write(csv_file, f"data{i}.csv")
    df = read_zipped_csvs(
        spark, str(tmp_path / "part*.zip"), airquality_schema()
    )
    assert df.count() == 3 * N_ROWS
    assert df.columns == list(EXPECTED_COLUMNS)


def test_distributed_zip_scan_fills_missing_columns(spark, tmp_path):
    # regression: an archive whose CSV lacks a schema column must yield
    # nulls there, not kill the job with an Arrow schema mismatch
    cols = tuple(c for c in EXPECTED_COLUMNS if c != "Temp")
    csv_p = tmp_path / "short.csv"
    make_csv(str(csv_p), columns=cols)
    with zipfile.ZipFile(tmp_path / "short.zip", "w") as zf:
        zf.write(str(csv_p), "short.csv")
    df = read_zipped_csvs(spark, str(tmp_path / "short.zip"), airquality_schema())
    assert df.count() == N_ROWS
    assert df.where("Temp IS NULL").count() == N_ROWS


def test_distributed_zip_scan_entry_rules(spark, tmp_path):
    # one archive exercising every entry rule: zip-slip names,
    # directories and non-CSV entries yield no rows; the .csv match
    # ignores case; extra columns drop, missing ones read as NULL, and
    # empty cells are NULL in string and double columns alike
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("name", StringType()),
            StructField("score", DoubleType()),
            StructField("note", StringType()),
        ]
    )
    zpath = str(tmp_path / "mixed.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("a.csv", "name,score,note\nalpha,1.5,x\n,,\n")
        zf.writestr("sub/B.CSV", "name,score,note\nbeta,2.5,y\n")
        zf.writestr("c.csv", "extra,score,name\nz,3.5,gamma\n")
        zf.writestr("../evil.csv", "name,score,note\nevil,9.0,e\n")
        zf.writestr("dir.csv/", "")
        zf.writestr("notes.txt", "name,score,note\nnotes,8.0,t\n")

    df = read_zipped_csvs(spark, zpath, schema)
    assert df.columns == ["name", "score", "note"]
    assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
    rows = sorted(df.collect(), key=lambda r: (r.score is None, r.score))
    assert [tuple(r) for r in rows] == [
        ("alpha", 1.5, "x"),
        ("beta", 2.5, "y"),
        ("gamma", 3.5, None),  # extra column dropped, missing one NULL
        (None, None, None),  # empty cells are NULL, strings included
    ]


def test_fetch_s3_commits_atomically_and_retries_stream_errors(tmp_path, monkeypatch):
    # ADVICE-class hardening: a crash mid-download must never leave a
    # truncated destination for the warm-path short-circuit to trust,
    # and a stream error must retry the whole GET with backoff
    import os

    from data_ingestion_s3_to_parquet_spark.sources import s3 as s3mod

    monkeypatch.setattr(s3mod, "HAVE_BOTO3", True)
    monkeypatch.setattr("time.sleep", lambda s: None)  # no real backoff waits
    payload = b"x" * 1000

    class Body:
        def __init__(self, fail_after=None):
            self.fail_after = fail_after

        def iter_chunks(self, chunk_size):
            for i in range(0, len(payload), 100):
                if self.fail_after is not None and i >= self.fail_after:
                    raise ConnectionError("stream dropped")
                yield payload[i : i + 100]

    class FlakyClient:
        def __init__(self, failures):
            self.failures = failures
            self.calls = 0

        def get_object(self, Bucket, Key):
            self.calls += 1
            if self.calls <= self.failures:
                return {"Body": Body(fail_after=300)}  # dies mid-stream
            return {"Body": Body()}

    dst = str(tmp_path / "obj.zip")

    # two mid-stream failures, third attempt succeeds: full bytes land,
    # no .part litter, destination appears only once complete
    c = FlakyClient(failures=2)
    n = s3mod.fetch_s3("b", "k", dst, client=c)
    assert n == len(payload) and c.calls == 3
    with open(dst, "rb") as fh:
        assert fh.read() == payload
    assert [f for f in os.listdir(tmp_path) if ".part" in f] == []

    # warm path: short-circuit fires, no client call
    c2 = FlakyClient(failures=0)
    assert s3mod.fetch_s3("b", "k", dst, client=c2) == 0
    assert c2.calls == 0

    # permanent failure: raises after bounded attempts, destination
    # never created, no torn file left behind
    dst2 = str(tmp_path / "obj2.zip")
    c3 = FlakyClient(failures=99)
    import pytest as _pytest

    with _pytest.raises(ConnectionError):
        s3mod.fetch_s3("b", "k", dst2, client=c3)
    assert c3.calls == s3mod.FETCH_ATTEMPTS
    assert not os.path.exists(dst2)
    assert [f for f in os.listdir(tmp_path) if ".part" in f] == []

    # ADVICE r6: attempts < 1 must fail loudly at entry, not reach
    # `raise last_err` with last_err = None (a bare TypeError)
    for bad in (0, -1):
        with _pytest.raises(ValueError, match="attempts"):
            s3mod.fetch_s3("b", "k", str(tmp_path / "never"), attempts=bad,
                           client=FlakyClient(failures=0))


def test_extract_zip_publishes_entries_atomically(tmp_path, monkeypatch):
    # same torn-file rule as fetch_s3: the warm path trusts the
    # extracted CSV's existence, so a crash mid-entry must leave NO
    # file under the final name (and no .part litter after cleanup)
    import io
    import os

    from data_ingestion_s3_to_parquet_spark.sources.zipsource import extract_zip

    zpath = tmp_path / "a.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("one.csv", "h\n1\n")
        zf.writestr("two.csv", "h\n2\n")

    # normal path: both entries published, no part files
    outdir = tmp_path / "out"
    got = extract_zip(str(zpath), str(outdir))
    assert sorted(os.path.basename(p) for p in got) == ["one.csv", "two.csv"]
    assert [f for f in os.listdir(outdir) if ".part" in f] == []

    # crash while writing the SECOND entry: first entry published,
    # second absent entirely (not truncated), no part litter
    outdir2 = tmp_path / "out2"
    real_replace = os.replace
    calls = []

    def exploding_replace(src, dst):
        calls.append(dst)
        if len(calls) == 2:
            raise OSError("simulated crash at publish")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", exploding_replace)
    import pytest as _pytest

    with _pytest.raises(OSError, match="simulated crash"):
        extract_zip(str(zpath), str(outdir2))
    names = set(os.listdir(outdir2))
    assert len(names & {"one.csv", "two.csv"}) == 1  # only the first landed
    assert [f for f in names if ".part" in f] == []


def test_ship_package_reuses_one_zip_per_code_version(tmp_path, monkeypatch):
    # two driver processes (different pids) on two applications must
    # share one content-named zip in the temp dir, not write one each
    import itertools
    import tempfile
    from types import SimpleNamespace

    from data_ingestion_s3_to_parquet_spark import session

    shipped = []
    pids = itertools.count(101)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(os, "getpid", lambda: next(pids))
    for app_id in ("ship-test-app-1", "ship-test-app-2"):
        sc = SimpleNamespace(applicationId=app_id, addPyFile=shipped.append)
        session._ship_package(SimpleNamespace(sparkContext=sc))
    zips = list(tmp_path.iterdir())
    assert len(zips) == 1 and zips[0].suffix == ".zip"
    assert shipped == [str(zips[0])] * 2
    with zipfile.ZipFile(zips[0]) as zf:
        assert "data_ingestion_s3_to_parquet_spark/session.py" in zf.namelist()


def test_ship_package_sweeps_aged_superseded_zips(tmp_path, monkeypatch):
    # a write of a new code version's zip removes superseded zips past
    # the grace period, and keeps younger ones another driver may ship
    import tempfile
    import time
    from types import SimpleNamespace

    from data_ingestion_s3_to_parquet_spark import session
    from data_ingestion_s3_to_parquet_spark.artifacts import SWEEP_GRACE_SECONDS

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    aged = tmp_path / "dis2p_spark_pkg_4242.zip"
    fresh = tmp_path / "dis2p_spark_pkg_0123456789abcdef.zip"
    for p in (aged, fresh):
        p.write_bytes(b"stale")
    old = time.time() - SWEEP_GRACE_SECONDS - 60
    os.utime(aged, (old, old))
    shipped = []
    sc = SimpleNamespace(applicationId="sweep-test-app", addPyFile=shipped.append)
    session._ship_package(SimpleNamespace(sparkContext=sc))
    assert not aged.exists()
    assert fresh.exists()
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        [fresh.name, os.path.basename(shipped[0])]
    )


def test_ingest_parity_reuses_one_scratch_dir(spark, sf_dir, tmp_path, monkeypatch):
    # repeated calls of the graded parity lane overwrite one
    # fixture-keyed dir instead of leaving a new temp dir per call
    import tempfile

    from data_ingestion_s3_to_parquet_spark.operators.parity import (
        q_ingest_parity,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    first = sorted(q_ingest_parity(spark, sf_dir).collect())
    second = sorted(q_ingest_parity(spark, sf_dir).collect())
    dirs = [p for p in tmp_path.iterdir() if p.name.startswith("spark_graft_parity_")]
    assert len(dirs) == 1
    assert first and first == second
