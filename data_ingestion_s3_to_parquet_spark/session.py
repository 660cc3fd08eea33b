"""SparkSession construction and runtime tuning.

Two entry points:

- :func:`get_spark` — build a session for standalone use (tests, bench).
- :func:`tune` — apply the engine's *runtime-settable* confs to an
  existing session. The verify driver constructs its own SparkSession,
  so every query function calls ``tune(spark)`` defensively; all confs
  set there are dynamic SQLConf entries (safe post-startup).

Scale notes (100 TB design point)
---------------------------------
The local test harness runs ``local[32]``, but every conf below is
chosen to be correct on a 1000-executor cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-demotion are exactly the knobs that keep a fixed-SF-tuned
  plan working at 1000× the data.
- ``shuffle.partitions`` is only the *initial* number under AQE; at
  cluster scale you'd raise it (or set
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) and
  let AQE coalesce down.
- Arrow execution on: any pandas-UDF operator pays per-batch Arrow
  transfer, not per-row pickling.
"""

from __future__ import annotations

import contextlib
import logging
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Confs that are dynamic (plain SQLConf) — safe to set on a running
# session, including the verify driver's.
RUNTIME_CONFS: dict[str, str] = {
    # Fixtures are tz-naive; pin the session so TimestampType renders
    # identically to DuckDB's naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects outright; read the raw nanos and convert ourselves
    # (sources.catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: coalesce post-shuffle partitions, split skewed
    # joins, demote/promote broadcast at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # coalescePartitions.minPartitionSize stays at the Spark DEFAULT
    # (1 MB). r14 lowered it to 64k on a sequential A/B that credited
    # the floor with dedup_ngram_jaccard's verify-stage parallelism,
    # but the driver's own r14 run regressed the whole LSH/banding
    # family in lockstep (knn_graph_lsh 0.65x, sim_join_lsh 0.60x,
    # dedup_semantic 0.73x, dedup_components_lsh 0.81x — VERDICT r14
    # #1), and the r15 interleaved same-session A/B (8 reps, quiet
    # host, min AND median) reads 1m equal-or-faster on every lane
    # INCLUDING dedup_ngram_jaccard (min 2.18 vs 2.40 s, med 2.98 vs
    # 3.51 s): the 64k floor's extra tasks cost more scheduling than
    # their parallelism returns at any measured size. At 100 TB no
    # real shuffle partition is near either floor, so the default is
    # also the scale-neutral choice.
    # Arrow for any pandas-UDF / toPandas path; bigger batches amortize
    # the per-batch Python/Arrow round-trip on wide scans.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # ANSI off: fixtures are clean, and non-ANSI matches DuckDB's
    # permissive casts more closely for oracle parity.
    "spark.sql.ansi.enabled": "false",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` above every
    # explode; PushDownPredicates then pushes it through the projections
    # that define the array, INLINING the array expression into the
    # filter. For computed arrays (shingles, token n-grams) that re-runs
    # the whole expression per row — and re-binds `split(text)` inside
    # the transform lambda, the O(len²) re-tokenization CSE can't fix.
    # Every explode in this engine is over a computed array, so the
    # inferred filter only ever hurts (explode skips empty arrays
    # natively; the filter saves nothing).
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


_SHIPPED_APPS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors (addPyFile a zip of it).

    cloudpickle serializes module-level functions (pandas UDFs,
    applyInPandasWithState state machines) BY REFERENCE — the Python
    worker must import the defining module. A foreign session (the
    verify driver's) has no reason to carry this repo on its workers'
    sys.path, so every tune() ships the package once per application.

    The zip is named by a hash of the package's files, so every driver
    process running the same code shares one zip in the temp dir. It is
    written only when absent, through a per-process temp file and an
    atomic rename, so concurrent drivers never see a partial zip. Each
    write sweeps the aged zips of superseded code versions.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_APPS:
        return
    import hashlib
    import tempfile
    import zipfile

    from .artifacts import sweep_stale_siblings

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    files = []
    for root, _, names in os.walk(pkg_dir):
        for fname in names:
            if fname.endswith((".pyc", ".pyo")):
                continue
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, os.path.dirname(pkg_dir))
            with open(full, "rb") as fh:
                files.append((rel, fh.read()))
    files.sort()
    digest = hashlib.sha256()
    for rel, data in files:
        digest.update(f"{rel}\0{len(data)}\0".encode())
        digest.update(data)
    zname = f"dis2p_spark_pkg_{digest.hexdigest()[:16]}.zip"
    zpath = os.path.join(tempfile.gettempdir(), zname)
    if not os.path.exists(zpath):
        part = f"{zpath}.tmp-{os.getpid()}"
        with zipfile.ZipFile(part, "w") as zf:
            for rel, data in files:
                zf.writestr(rel, data)
        os.replace(part, zpath)
        sweep_stale_siblings("dis2p_spark_pkg_", keep=zname)
    try:
        sc.addPyFile(zpath)
    except Exception as e:  # pragma: no cover - e.g. same file re-added
        _log.warning(
            "could not ship %s to executors (%s: %s); Python UDFs may fail "
            "to import it there", zpath, type(e).__name__, e,
        )
    _SHIPPED_APPS.add(app_id)


def tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # pragma: no cover - conf may be static in exotic builds
            _log.warning("tune: could not set %s=%s (%s)", k, v, e)
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "data_ingestion_s3_to_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession for standalone/test/bench use.

    ``extra_confs`` is for *static* confs (e.g. spark.sql.warehouse.dir)
    that must be set before the session exists.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in {**RUNTIME_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


@contextlib.contextmanager
def gateway_commands(spark: SparkSession) -> Iterator[list[int]]:
    """Count the py4j commands the driver sends to the JVM inside the
    block, from any thread: ``with gateway_commands(spark) as n: ...``,
    then read ``n[0]``. PySpark pays DataFrame construction in gateway
    round trips per API call, so for a block that only builds
    DataFrames this is a deterministic measure of its driver cost."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return real(*args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = real
