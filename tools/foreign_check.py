"""Foreign-session execution check: the driver-environment smoke.

The driver consumes ``__spark_entry__`` with its OWN SparkSession —
vanilla confs, and (observed round 8: int64 hash-sum overflow THREW
there while the engine session wrapped) **ANSI mode on**. The oracle
replica (``tools/oracle_check.py``) runs under the engine's tuned
session, so a lane that silently depends on an engine-session conf —
or on non-ANSI overflow/cast semantics — can be locally green and
driver-red. This tool closes that gap: build a session the way the
driver plausibly does (``ansi.enabled=true``, no engine tuning beyond
what ``session.tune`` applies at runtime through ``load_table``),
import ``__spark_entry__`` exactly as the driver does, and EXECUTE
every requested query to completion (count + one-row collect, so both
the aggregate path and row decoding run).

This is an execution check, not a value check — values are the oracle
replica's job; this proves the plan RUNS under foreign confs.

Usage::

    python tools/foreign_check.py [--sf /root/testdata/sf0.01]
                                  [--lane graded|extra|all] [names...]
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--lane", default="graded",
                    choices=("graded", "extra", "all"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )

    from data_ingestion_s3_to_parquet_spark.plans.registry import (
        EXTRA,
        LANES,
        ORDER,
        REGISTRY,
    )

    names = args.names or list({"graded": REGISTRY, "extra": EXTRA, "all": ORDER}[args.lane])
    failed = []
    for name in names:
        q = LANES[name]
        t0 = time.perf_counter()
        try:
            df = q.fn(spark, args.sf)
            n = df.count()
            df.limit(1).collect()
            print(f"PASS  {name:<24} rows={n} "
                  f"[{time.perf_counter() - t0:.1f}s]")
        except Exception as e:  # noqa: BLE001 — report, don't mask
            failed.append(name)
            msg = str(e).splitlines()[0][:160]
            print(f"FAIL  {name:<24} {type(e).__name__}: {msg}")
    print(f"\n{len(names) - len(failed)}/{len(names)} passed"
          + (f"; FAILED: {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
