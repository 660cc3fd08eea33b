"""Spans recorded from outside the package, and the Spark event log.

Tracing follows one rule: the timed runs never pay for it. A run with
``--trace 0`` uses :class:`Tracer` with ``enabled=False``, whose spans
cost one branch. A run with ``--trace 1`` records every span in memory,
wraps the package's public module functions so calls made *inside* the
package (``run_pipeline`` calling ``extract_zip`` and ``ingest_csv``,
a lane loading its persisted artifact) are timed too, and turns on
Spark's JSON event log. Both are written out once, when the run ends.

Jobs are attributed to ops by time window, not by job group: some
operators build branches on driver threads that drop the caller's
job group, while ops run strictly one at a time, so every job submitted
inside an op's span belongs to that op.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # wall-clock seconds (time.time), comparable with the event log
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``span`` is a no-op when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, attrs=attrs))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        return [
            s.dur - union_length((c.start, c.end) for c in children[i])
            for i, s in enumerate(self.spans)
        ]

    def dump(self, path: str) -> None:
        self_s = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": i,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "self_s": self_s[i],
                        **s.attrs,
                    }
                    for i, s in enumerate(self.spans)
                ],
                fh,
            )


def instrument(tracer: Tracer) -> None:
    """Wrap the package's public calls so internal calls get spans too.

    Only module attributes are replaced; no package file changes. The
    ingest module resolves every callee through its own globals, so
    wrapping there also times the calls ``run_pipeline`` makes.
    """
    from data_ingestion_s3_to_parquet_spark import artifacts, ingest

    for attr, name in (
        ("csv_header_columns", "ingest.header"),
        ("verify_columns", "ingest.verify"),
        ("ingest_csv", "ingest.ingest_csv"),
        ("extract_zip", "sources.extract"),
        ("write_parquet", "sources.write"),
    ):
        tracer.wrap(ingest, attr, name)

    persisted = artifacts.persisted_frame

    @functools.wraps(persisted)
    def traced_persisted(spark, namespace, key, build, cols):
        built = []

        def counted_build():
            built.append(namespace)
            return build()

        with tracer.span("artifacts.persisted_frame", ns=namespace) as sp:
            out = persisted(spark, namespace, key, counted_build, cols)
            sp.attrs["rebuilt"] = bool(built)
        return out

    artifacts.persisted_frame = traced_persisted


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s plan, from
    Catalyst's phase tracker. Planning is forced here, so the call
    itself belongs to the tracing overhead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    stage_windows: list = field(default_factory=list)


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if len(paths) != 1:
        raise FileNotFoundError(f"expected one event log for {app_id} in {log_dir}")
    with open(paths[0]) as fh:
        return [json.loads(line) for line in fh]


def attribute(events: list[dict], windows: list[tuple[str, float, float]]) -> dict[str, OpCounters]:
    """Counters per window key; a job belongs to the window holding its
    submission time, and its stages and tasks follow it."""
    starts = sorted((w[1], w[2], w[0]) for w in windows)

    def window_of(t_s: float) -> str | None:
        for s, e, key in starts:
            if s <= t_s <= e:
                return key
        return None

    out: dict[str, OpCounters] = defaultdict(OpCounters)
    stage_owner: dict[int, str] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            key = window_of(ev["Submission Time"] / 1000.0)
            if key is None:
                continue
            out[key].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_owner.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = stage_owner.get(info["Stage ID"])
            if key is None or "Submission Time" not in info:
                continue
            out[key].stages += 1
            out[key].stage_windows.append(
                (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
            )
        elif kind == "SparkListenerTaskEnd":
            key = stage_owner.get(ev["Stage ID"])
            if key is None:
                continue
            c = out[key]
            c.tasks += 1
            metrics = ev.get("Task Metrics") or {}
            c.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
            c.shuffle_write_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return out


LAYER_SPANS = {
    "ingest.header": "ingest.header_s",
    "ingest.verify": "ingest.verify_s",
    "ingest.ingest_csv": "ingest.ingest_csv_s",
    "sources.extract": "sources.extract_s",
    "sources.zip_scan": "sources.zip_scan_s",
    "sources.write": "sources.write_s",
    "sources.readback": "sources.readback_s",
}


def per_layer(tracer: Tracer, ctx, event_log_dir: str, app_id: str, *,
              setup: dict[str, list], pass_median: float) -> dict:
    """Per-layer metrics of a traced run: medians over its timed passes
    for everything measured per pass, medians over set-up repetitions
    for set-up, and whole-run totals for failed tasks. Span times are
    self times: a span's duration less what its child spans cover."""
    from workloads import _dir_bytes, metric_units

    spans = tracer.spans
    self_s = tracer.self_times()
    passes = [
        i for i, s in enumerate(spans)
        if s.name == "pass" and s.attrs["label"].startswith("pass")
    ]
    per_pass: dict[int, dict[str, float]] = {p: defaultdict(float) for p in passes}

    def pass_of(i: int | None) -> int | None:
        while i is not None and spans[i].name != "pass":
            i = spans[i].parent
        return i

    windows = []
    for i, s in enumerate(spans):
        acc = per_pass.get(pass_of(i))
        if acc is None:
            continue
        if s.name in LAYER_SPANS:
            acc[LAYER_SPANS[s.name]] += self_s[i]
        elif s.name == "artifacts.persisted_frame":
            if s.attrs["rebuilt"]:
                acc["artifacts.rebuilds"] += 1
            else:
                acc["artifacts.load_verify_s"] += self_s[i]
        elif s.name == "plans.build":
            acc[f"plans.build_s.{s.attrs['op']}"] += self_s[i]
        elif s.name == "plans.catalyst":
            acc[f"plans.catalyst_s.{s.attrs['op']}"] += s.attrs["catalyst_s"]
        elif s.name == "op":
            windows.append((i, s.attrs["op"], s.start, s.end))
            acc["trace.op_cover"] += s.dur / spans[pass_of(i)].dur

    events = read_event_log(event_log_dir, app_id)
    counters = attribute(events, [(str(i), start, end) for i, _, start, end in windows])
    for i, op, start, end in windows:
        c = counters.get(str(i), OpCounters())
        stage_busy = union_length(
            (max(s, start), min(e, end)) for s, e in c.stage_windows if e > start and s < end
        )
        acc = per_pass[pass_of(i)]
        acc[f"operators.jobs.{op}"] = c.jobs
        acc[f"operators.stages.{op}"] = c.stages
        acc[f"operators.tasks.{op}"] = c.tasks
        acc[f"operators.executor_cpu_s.{op}"] = c.executor_cpu_s
        acc[f"operators.shuffle_write_bytes.{op}"] = c.shuffle_write_bytes
        acc[f"operators.driver_gap_s.{op}"] = (end - start) - stage_busy

    units = metric_units()
    values = {
        name: statistics.median(acc.get(name, 0.0) for acc in per_pass.values())
        for name in units
    }
    values["session.start_s"] = statistics.median(setup["start_s"])
    for key, times in setup.items():
        if key.startswith("build_s."):
            values[f"artifacts.{key}"] = statistics.median(times)
    values["operators.tasks_failed"] = sum(
        1 for ev in events
        if ev["Event"] == "SparkListenerTaskEnd"
        and ev["Task End Reason"]["Reason"] != "Success"
    )
    if ctx.archives:
        written = {op: _dir_bytes(ctx.out(op)) for op in ("pipeline_one", "zip_scan", "lineitem_write")}
        values["sources.bytes_written"] = sum(b for b, _ in written.values())
        values["sources.files_written"] = sum(n for _, n in written.values())
        csv_in = os.path.getsize(ctx.archives[0]["csv"]) + sum(
            os.path.getsize(a["csv"]) for a in ctx.archives
        )
        values["sources.out_bytes_per_in_byte"] = (
            written["pipeline_one"][0] + written["zip_scan"][0]
        ) / csv_in
    values["trace.pass_s"] = pass_median
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
