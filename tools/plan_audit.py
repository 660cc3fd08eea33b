"""Plan-property audit: one line of physical-plan evidence per query.

For every registry query (graded + EXTRA + BENCH_ONLY) this prints the
scale-relevant plan properties the docstrings claim, so a reviewer can
check them in one command instead of reading 65 `.explain` dumps:

- exchanges (shuffle count), broadcast joins, sort-merge/shuffle-hash
  joins, WindowGroupLimit, TakeOrderedAndProject
- whether the parquet scan carries pushed filters
- python-boundary nodes (ArrowEvalPythonUDTF / MapInPandas / pandas
  UDF evals) — the deliberate Arrow crossings
- ``gw``: py4j gateway commands sent while building the lane
  (``q.fn(spark, sf)``) — driver-side construction cost, since PySpark
  pays ~10 round trips per ``Column`` call. Exact for a build that runs
  no job; a build that collects or checkpoints also counts that job's
  traffic, which varies by ~10% between runs

Usage::

    python tools/plan_audit.py [--sf /root/testdata/sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import re
import sys

sys.path.insert(0, ".")

from data_ingestion_s3_to_parquet_spark.plans.registry import LANES  # noqa: E402
from data_ingestion_s3_to_parquet_spark.session import (  # noqa: E402
    gateway_commands,
    get_spark,
)


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def audit(df) -> dict[str, object]:
    plan = plan_of(df)

    # count only the numbered detail headers so tree + detail sections
    # don't double-count each node
    def n(node_pattern: str) -> int:
        return len(re.findall(rf"\(\d+\) {node_pattern}", plan))

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "exchanges": n("Exchange"),
        "bcast_join": n("Broadcast(?:Hash|NestedLoop)Join"),
        "smj_shj": n("(?:SortMergeJoin|ShuffledHashJoin)"),
        "wgl": n("WindowGroupLimit"),
        "topk": n("TakeOrderedAndProject"),
        "python": n(
            "(?:ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)"
        ),
        "pushed": sum(1 for p in pushed if p.strip()),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or list(LANES)

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    hdr = ("query", "exch", "bcast", "smj/shj", "wgl", "topk", "py", "pushed", "gw")
    print("%-24s %5s %6s %8s %4s %5s %3s %7s %6s" % hdr)
    for name in names:
        q = LANES[name]
        try:
            with gateway_commands(spark) as gw:
                df = q.fn(spark, args.sf)
            a = audit(df)
            print(
                "%-24s %5d %6d %8d %4d %5d %3d %7d %6d"
                % (
                    name,
                    a["exchanges"],
                    a["bcast_join"],
                    a["smj_shj"],
                    a["wgl"],
                    a["topk"],
                    a["python"],
                    a["pushed"],
                    gw[0],
                )
            )
        except Exception as exc:  # pragma: no cover - diagnostic tool
            print(f"{name:<24} ERROR {type(exc).__name__}: {exc}")
    spark.stop()


if __name__ == "__main__":
    main()
