"""Benchmark harness: headline queries at the bench scale factor.

Runs every ``bench=True`` registry query against
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": min_sec, ...}, "sf": 0.1}

``queries`` keeps the driver's name→seconds contract (min of the
timed runs). Everything else goes to the sidecar ``BENCH_SPREAD.json``
next to this script, NOT onto the stdout line: the bench's caller
captures only a bounded tail of stdout, and a longer line pushes
``"value"`` out of that window. The sidecar holds:

- ``spread``: min and median of each lane's timed runs;
- ``layers``: each lane's jobs, stages and tasks in its last timed
  run, read from Spark's status store under a job group named after
  the lane (:func:`lane_counts`). These counts do not move with host
  load, so a change in them, not in wall time, says a lane's plan
  changed. ``stages`` and ``tasks`` include skipped stages (a shuffle
  whose output an earlier job of the run already wrote), so they are
  not comparable with perfbench's ``operators.stages``, which counts
  completed stages only;
- ``artifact_build_sec``: the fresh, timed build of each persisted
  derived table, done before any timed lane so lane times are
  query-only.

Each query is fully materialized through the ``noop`` sink (forces
end-to-end execution including shuffles, without paying sink I/O or
driver collection). Each query gets one untimed warm-up run and then
five timed runs, so numbers reflect steady state rather than per-plan
codegen compilation or a stray GC pause (fixed costs that vanish at
scale). ``spark.catalog.clearCache()`` runs before EVERY run (warm-up
and timed): any operator may ``.cache()`` a shared subtree, and
Spark's CacheManager matches canonicalized plans — so without the
clear, the warm-up would populate a cache the timed runs silently
read, and the timing would exclude the dominant build. With it, "no
run is ever faster than the real plan" holds.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_ingestion_s3_to_parquet_spark.plans.registry import LANES
from data_ingestion_s3_to_parquet_spark.session import get_spark

TIMED_RUNS = 5


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def lane_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks run under job group ``group``; stages
    and tasks include skipped ones (a shuffle an earlier job of the
    run already wrote). Read from each job's totals in the status
    store, not from per-stage records: past ``spark.ui.retainedStages``
    stages the store evicts skipped stages first, so
    ``statusTracker().getStageInfo`` of a skipped stage can be None
    mid-lane. The store is fed asynchronously by the listener bus, so
    the bus is drained first. Read a group soon after its jobs ran:
    the store keeps only ``spark.ui.retainedJobs`` jobs."""
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    jobs = [
        jvm_sc.statusStore().job(j)
        for j in sc.statusTracker().getJobIdsForGroup(group)
    ]
    return {
        "jobs": len(jobs),
        "stages": sum(j.stageIds().size() for j in jobs),
        "tasks": sum(j.numCompletedTasks() + j.numSkippedTasks() for j in jobs),
    }


# Fixed untimed warm-up lanes run before ANY timing: a scan-shaped,
# a join-shaped, and an agg-shaped plan, so JVM/JIT/codegen/shuffle
# machinery is warm before the first timed lane regardless of which
# lane happens to sit at the suite head (lanes at the head used to
# read up to ~1.5x slow purely from position). Looked up in
# registry.LANES so registry reorders never break the warm-up.
WARMUP_LANES = ("scan_parquet", "join_inner", "agg_group")


def canonical_order(names) -> list:
    """The pinned timing order: lexicographic by lane name,
    INDEPENDENT of registry (grading) order, because suite position
    shifts lane timings by up to ~1.5x; a fixed order keeps each
    lane's timings comparable from one run of the suite to the next."""
    return sorted(names)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    bench_queries = {n: q for n, q in LANES.items() if q.bench}

    # Persisted-artifact setup pass: the six fingerprint-keyed derived
    # tables (SCALE.md §30) are deleted and rebuilt FRESH here, timed,
    # so the lanes that consume them (pagerank, graph_sssp,
    # dedup_fuzzy, quality_classifier, ...) are query-only by
    # construction and the build cost (compute + parquet write +
    # checksum) is on the record next to them.
    from data_ingestion_s3_to_parquet_spark.operators import (
        dedup as _dedup,
        graph as _graph,
        textstats as _textstats,
    )

    artifact_helpers = {
        "refpairs": _dedup._ref_pairs,
        "cosedges": _dedup._cosine_edges,
        "whitened": _dedup._whitened,
        "knn_edges": _graph._knn_edges,
        "copurchase": _graph._copurchase_edges,
        "qsignals": _textstats._quality_signals,
    }
    artifact_build_sec: dict[str, float] = {}
    for ns, helper in artifact_helpers.items():
        shutil.rmtree(
            os.path.join(tempfile.gettempdir(), f"spark_graft_{ns}"),
            ignore_errors=True,
        )
        sc.setJobDescription(f"artifact build: {ns}")
        t0 = time.perf_counter()
        helper(spark, sf_dir)  # persisted_frame builds eagerly
        artifact_build_sec[ns] = round(time.perf_counter() - t0, 3)
    sc.setJobDescription(None)

    # warm-up: JVM/codegen/parquet-footer caches AND shuffle/join/agg
    # machinery (see WARMUP_LANES)
    for wname in WARMUP_LANES:
        spark.catalog.clearCache()
        materialize(LANES[wname].fn(spark, sf_dir))

    # Per lane: one untimed warm-up run, then TIMED_RUNS timed runs.
    # Warm steady state is the honest 100 TB proxy: whole-stage-codegen
    # compilation (1-3 s per distinct plan) is a fixed cost amortized
    # over minutes of execution at scale, but at sf0.1 it would be
    # 3-5x the actual query time. Min of the timed runs is the
    # headline (single runs show rare 5-10x JIT/GC outliers in the
    # shared local JVM); the median rides along in ``spread``. Each
    # run gets its own job group so the counts read the last timed run
    # alone.
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    layers: dict[str, dict[str, int]] = {}
    for name in canonical_order(bench_queries):
        q = bench_queries[name]

        def run(i: int) -> float:
            sc.setJobGroup(f"{name}#{i}", name)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            materialize(q.fn(spark, sf_dir))
            return time.perf_counter() - t0

        run(0)  # untimed warm-up
        runs = sorted(run(i) for i in range(1, TIMED_RUNS + 1))
        layers[name] = lane_counts(sc, f"{name}#{TIMED_RUNS}")
        timings[name] = round(runs[0], 3)
        spread[name] = {
            "min": round(runs[0], 3),
            "med": round(runs[len(runs) // 2], 3),
            "n_runs": TIMED_RUNS,
        }
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobDescription(None)

    # the reference's canonical workload: scan -> project -> parquet
    # write (real sink I/O, not noop), per SURVEY.md §2A A3+A5+A6.
    # One warm-up, then min of three: a single cold run was exposed to
    # disk noise.
    def etl_run(out: str) -> None:
        (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select(
                "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                "l_discount", "l_returnflag", "l_linestatus", "l_shipdate",
            )
            .write.mode("overwrite")
            .parquet(out)
        )

    with tempfile.TemporaryDirectory() as tmp:
        etl_run(f"{tmp}/warmup")
        runs = []
        for i in range(3):
            t0 = time.perf_counter()
            etl_run(f"{tmp}/out{i}")
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings["etl_scan_project_write"] = round(runs[0], 3)
        spread["etl_scan_project_write"] = {
            "min": round(runs[0], 3),
            "med": round(runs[1], 3),
        }

    total = round(sum(timings.values()), 3)

    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SPREAD.json"
    )
    with open(sidecar, "w") as f:
        json.dump(
            {
                "spread": spread,
                "sf": sf,
                "layers": layers,
                "artifact_build_sec": artifact_build_sec,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    # ONE compact line, printed LAST (see the module docstring)
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
