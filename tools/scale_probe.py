"""Empirical scale probe: do the plans HOLD when the data grows?

The plan-property tests pin the shapes we designed for 100 TB
(bounded broadcasts, one exchange where one is claimed, window
partition keys); this tool adds the missing empirical leg: inflate
the fixture K× (union of key-offset copies, join keys offset
consistently on both sides; region/nation stay fixed — dimensions do
not grow with facts) and verify, for a representative query per plan
family, that

- wall-clock grows at most ~linearly (ratio ≤ 2·K guards against an
  accidental quadratic stage or a broadcast side that started
  spilling),
- the physical plan keeps the SAME number of BroadcastExchange nodes
  (a broadcast that appears only at the larger scale means Catalyst
  re-planned a growing side as broadcast — the driver-OOM trap), and
- the exchange count is stable (no extra shuffle materializes with
  volume).

Usage::

    python tools/scale_probe.py [--factor 4] [--sf /root/testdata/sf0.1]
                                [names...]

Emits one JSON line per query plus a PASS/FAIL summary line. The
scaled copy is cached under /tmp (keyed by base dir + factor) so
re-runs only pay the query time.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from data_ingestion_s3_to_parquet_spark.plans.registry import LANES  # noqa: E402
from data_ingestion_s3_to_parquet_spark.sources.catalog import (  # noqa: E402
    TABLES,
    load_table,
)

# One representative per plan family (kept moderate-cost so the probe
# stays under ~2 min): shuffle agg, multi-join + broadcast dims,
# window, dedup (sub-linear output), text scan + transcendental,
# two-phase prefix sum, broadcast top-k, event-time window agg.
DEFAULT_NAMES = [
    "agg_group",
    "join_inner",
    "scd2_history",
    "dedup_exact",
    "entropy_score",
    "token_budget_select",
    "sim_topk",
    "stream_tumbling",
]

# key column → which stride pool it draws from (both sides of every
# join key must shift by the same stride or the join fans out wrongly)
_KEY_POOLS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {
        "l_orderkey": "order",
        "l_partkey": "part",
        "l_suppkey": "supp",
    },
    "events": {"event_id": "event", "user_id": "cust"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
# constant-size dimensions: copied once, never inflated
_FIXED_TABLES = ("region", "nation")


def _build_scaled(spark: SparkSession, base: str, factor: int) -> str:
    out = f"/tmp/scale_probe_{os.path.basename(base.rstrip('/'))}_{factor}x"
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    os.makedirs(out, exist_ok=True)
    strides: dict[str, int] = {}
    loaded = {t: load_table(spark, base, t) for t in TABLES}
    for table, pools in _KEY_POOLS.items():
        for col, pool in pools.items():
            hi = loaded[table].agg(F.max(col)).collect()[0][0]
            strides[pool] = max(strides.get(pool, 0), int(hi) + 1)
    for table in TABLES:
        df = loaded[table]
        if table in _FIXED_TABLES:
            df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
            continue
        copies = []
        for i in range(factor):
            c = df
            for col, pool in _KEY_POOLS[table].items():
                c = c.withColumn(
                    col, (F.col(col) + F.lit(i * strides[pool])).cast("long")
                )
            copies.append(c)
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        big.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    open(os.path.join(out, "_BUILT"), "w").write(str(factor))
    return out


def _plan_counts(df: DataFrame) -> tuple[int, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    return (
        len(re.findall(r"\(\d+\) Exchange", plan)),
        len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
    )


def _timed(fn, spark: SparkSession, sf_dir: str) -> float:
    spark.catalog.clearCache()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--factor", type=int, default=4)
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()
    names = args.names or DEFAULT_NAMES

    # the engine session, same as bench.py — an ad-hoc vanilla builder
    # here ran with the 1g default driver heap and OOM'd the 16x ORC
    # write (32 concurrent stripe writers) while the real runtime,
    # which always goes through session.get_spark, was fine
    from data_ingestion_s3_to_parquet_spark.session import get_spark

    spark = get_spark("scale-probe", shuffle_partitions=32)
    scaled = _build_scaled(spark, args.sf, args.factor)

    ok = True
    for n in names:
        fn = LANES[n].fn
        t1 = _timed(fn, spark, args.sf)
        tk = _timed(fn, spark, scaled)
        e1, b1 = _plan_counts(fn(spark, args.sf))
        ek, bk = _plan_counts(fn(spark, scaled))
        ratio = tk / t1 if t1 > 0 else float("inf")
        # AQE may legally COALESCE shuffles away at the small scale;
        # growing broadcast counts or superlinear time are the fails.
        q_ok = bk <= b1 and ek <= e1 + 1 and ratio <= 2.0 * args.factor
        ok &= q_ok
        print(
            json.dumps(
                {
                    "q": n,
                    "t_1x": round(t1, 3),
                    f"t_{args.factor}x": round(tk, 3),
                    "ratio": round(ratio, 2),
                    "exchanges": [e1, ek],
                    "broadcasts": [b1, bk],
                    "ok": q_ok,
                }
            )
        )
    print(
        ("PASS" if ok else "FAIL")
        + f" — {len(names)} queries probed at {args.factor}x {args.sf}"
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
