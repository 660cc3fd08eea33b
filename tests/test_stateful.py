"""Custom stateful streaming (applyInPandasWithState) sessionization test."""

from __future__ import annotations

import datetime as dt

import pytest

from data_ingestion_s3_to_parquet_spark.streaming.stateful import sessionize_stateful
from data_ingestion_s3_to_parquet_spark.streaming.stream import EVENTS_STREAM_SCHEMA


def test_stateful_sessionize_gap_and_terminal(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two events 5min apart, then a 2h gap, then one more
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=5), 1, "view", 2.0),
        (3, base + dt.timedelta(hours=2), 1, "click", 4.0),
        # user 2: an 'error' closes the session immediately
        (4, base, 2, "click", 1.0),
        (5, base + dt.timedelta(minutes=1), 2, "error", 8.0),
        (6, base + dt.timedelta(minutes=2), 2, "view", 16.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).repartition(1).write.parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    sessions = sessionize_stateful(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT * FROM stateful_sessions ORDER BY user_id, session_start"
    ).collect()

    by_user: dict[int, list] = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append(r)

    # user 1: the first session (2 events) closed by the 2h gap
    u1 = by_user[1]
    assert u1[0].n_events == 2
    assert u1[0].sum_value == 3.0
    assert u1[0].closed_by == "gap"
    assert u1[0].session_start == base
    # session end = last event + 30-minute gap
    assert u1[0].session_end == base + dt.timedelta(minutes=35)
    # user 2: terminal error closed a 2-event session mid-stream
    u2 = by_user[2]
    assert u2[0].n_events == 2
    assert u2[0].sum_value == 9.0
    assert u2[0].closed_by == "terminal"


def test_stateful_tumbling_matches_batch_window(spark, tmp_path):
    # the custom-stateful tumbling twin must assign and aggregate
    # windows exactly like batch F.window — including an event at
    # exactly a window boundary (belongs to the NEXT window: [start,
    # end) half-open) and out-of-order arrival within the batch
    import pyspark.sql.functions as F

    from data_ingestion_s3_to_parquet_spark.streaming.stateful import (
        tumbling_stateful,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    flush = base + dt.timedelta(days=2)  # closes every real window
    rows = [
        # type "click": two windows, out-of-order, boundary event at
        # exactly 01:00:00 (second window), plus in-window spread
        (1, base + dt.timedelta(minutes=50), 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=5), 1, "click", 2.0),
        (3, base + dt.timedelta(hours=1), 1, "click", 4.0),      # boundary
        (4, base + dt.timedelta(minutes=90), 1, "click", 8.0),
        (5, flush, 1, "click", 0.0),
        # type "view": one window
        (6, base + dt.timedelta(minutes=10), 2, "view", 16.0),
        (7, base + dt.timedelta(minutes=20), 2, "view", 32.0),
        (8, flush, 2, "view", 0.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).repartition(1).write.parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    q = (
        tumbling_stateful(stream)
        .writeStream.format("memory")
        .queryName("stateful_tumbling")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streaming = {
        (r.event_type, r.window_start, r.window_end, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM stateful_tumbling").collect()
        if r.window_start < flush
    }

    batch = {
        (r.event_type, r.start, r.end, r.n, r.s)
        for r in (
            spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
            .groupBy("event_type", F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .select("event_type", F.col("w.start").alias("start"),
                    F.col("w.end").alias("end"), "n", "s")
            .collect()
        )
        if r.start < flush
    }
    assert streaming == batch
    # sanity on the shape itself: boundary event landed in hour 2
    assert ("click", base + dt.timedelta(hours=1),
            base + dt.timedelta(hours=2), 2, 12.0) in streaming


def test_stateful_sessionize_merges_at_exactly_gap_like_batch(spark, tmp_path):
    # the r3 oracle fix pinned batch F.session_window's INCLUSIVE
    # boundary: an event at exactly last+gap merges. The stateful lane
    # must agree, including for out-of-order arrival — this runs the
    # same events through BOTH modes and compares session boundaries.
    import pyspark.sql.functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = dt.timedelta(seconds=30 * 60)
    flush = base + dt.timedelta(hours=10)  # advances the session past any gap
    rows = [
        # user 1, OUT OF ORDER within the batch: base+60m arrives before
        # base+30m; the 30m event is exactly gap after base AND exactly
        # gap before the 60m event -> all three must merge into ONE session
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=60), 1, "view", 4.0),
        (3, base + gap, 1, "click", 2.0),
        (4, flush, 1, "click", 0.0),
        # user 2: one second BEYOND the gap -> must split
        (5, base, 2, "click", 1.0),
        (6, base + gap + dt.timedelta(seconds=1), 2, "view", 2.0),
        (7, flush, 2, "click", 0.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).repartition(1).write.parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    q = (
        sessionize_stateful(stream)
        .writeStream.format("memory")
        .queryName("boundary_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streaming = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM boundary_sessions").collect()
        if r.session_start < flush
    }

    # user 1: ONE merged 3-event session, end = last event + gap
    assert (1, base, base + dt.timedelta(minutes=90), 3) in streaming
    # user 2: split into two 1-event sessions
    assert (2, base, base + gap, 1) in streaming
    u2_second = base + gap + dt.timedelta(seconds=1)
    assert (2, u2_second, u2_second + gap, 1) in streaming
    assert len(streaming) == 3

    # batch twin: F.session_window over the same rows must yield the
    # same (user, start, end, count) set for the non-flusher sessions
    batch = {
        (r.user_id, r.start, r.end, r.n)
        for r in (
            spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select("user_id", F.col("w.start").alias("start"),
                    F.col("w.end").alias("end"), "n")
            .collect()
        )
        if r.start < flush
    }
    assert batch == streaming


def test_stateful_sliding_matches_batch_window(spark, tmp_path):
    # the custom-stateful sliding twin must multi-assign events to the
    # same 4 epoch-aligned windows as batch F.window(ts, 1h, 15m),
    # including boundary events (half-open [start, end)) and
    # out-of-order arrival within the batch
    import pyspark.sql.functions as F

    from data_ingestion_s3_to_parquet_spark.streaming.stateful import (
        sliding_stateful,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    flush = base + dt.timedelta(days=2)  # closes every real window
    rows = [
        # "click": spread across slide boundaries, out-of-order, one
        # event exactly ON a slide boundary (00:15) and one exactly on
        # a window boundary (01:00)
        (1, base + dt.timedelta(minutes=50), 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=15), 1, "click", 2.0),   # slide boundary
        (3, base + dt.timedelta(hours=1), 1, "click", 4.0),      # window boundary
        (4, base + dt.timedelta(minutes=7), 1, "click", 8.0),
        (5, flush, 1, "click", 0.0),
        # "view": one event -> exactly 4 windows of 1 event each
        (6, base + dt.timedelta(minutes=40), 2, "view", 16.0),
        (7, flush, 2, "view", 0.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).repartition(1).write.parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    q = (
        sliding_stateful(stream)
        .writeStream.format("memory")
        .queryName("stateful_sliding")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streaming = {
        (r.event_type, r.window_start, r.window_end, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM stateful_sliding").collect()
        if r.window_start < flush - dt.timedelta(hours=1)
    }

    batch = {
        (r.event_type, r.start, r.end, r.n, r.s)
        for r in (
            spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
            .groupBy(
                "event_type", F.window("ts", "1 hour", "15 minutes").alias("w")
            )
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .select("event_type", F.col("w.start").alias("start"),
                    F.col("w.end").alias("end"), "n", "s")
            .collect()
        )
        if r.start < flush - dt.timedelta(hours=1)
    }
    assert streaming == batch
    # shape sanity: the single "view" event appears in exactly 4 windows
    assert sum(1 for t in streaming if t[0] == "view") == 4


def test_transform_with_state_totals_match_batch_agg():
    # the v2-API (transformWithStateInPandas) incremental totals must
    # land exactly on the batch groupBy over the same data, count and
    # fixed-point sum alike — across MULTIPLE micro-batches so state
    # restore and update both execute.
    # The v2 runner speaks protobuf to its state server and this
    # container ships no installable google.protobuf — but the Google
    # Cloud SDK bundles a pure-Python 6.32 runtime, exposed via
    # tools/pbshim (VERDICT r7 #6). The shim must be live in the Spark
    # WORKERS from JVM launch, so the pipeline runs in a subprocess
    # with PYTHONPATH pointing at the shim (never the shared session,
    # which would leak the shim into every other test). Skips only if
    # the bundled runtime is absent.
    import json
    import os
    import subprocess
    import sys

    import pytest

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shim = os.path.join(repo, "tools", "pbshim")
    if not os.path.isdir(
        "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
    ):
        pytest.skip(
            "no protobuf runtime: not installable here and no "
            "Cloud-SDK-bundled copy to shim in"
        )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [shim, repo] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tests", "statev2_subprocess_driver.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["streaming"] == out["batch"]
    assert len(out["streaming"]) == 3
    # exact expected totals: users 1..3 each see 10 of the 30 events
    assert {k: v[0] for k, v in out["streaming"].items()} == {
        "1": 10, "2": 10, "3": 10,
    }


def test_to_cents_sum_matches_batch_round_on_half_cents(spark):
    # ADVICE r4: pandas .round() is half-to-even, but the batch twin
    # quantizes with Spark round() — HALF_UP, away from zero. The
    # shared quantizer must agree on TRUE half-cent values (x.xx5),
    # where the two modes diverge, and on negatives.
    import pyspark.sql.functions as F

    from data_ingestion_s3_to_parquet_spark.streaming.statev2 import (
        to_cents_sum,
    )

    # 0.125*100 = 12.5 and 0.135*100 = 13.5: half-even gives 12 + 14,
    # half-up gives 13 + 14 — a real divergence, not a rounding quirk
    values = [0.125, 0.135, -0.125, -0.135, 1.005, 2.675, -3.335, 0.0]
    batch = (
        spark.createDataFrame([(v,) for v in values], "value double")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
        .collect()[0]["cents"]
    )
    assert to_cents_sum(values) == batch


def test_transform_with_state_plan_builds_everywhere(spark):
    # plan construction + output schema don't need the protobuf runner:
    # this wiring check runs even where the execution test skips
    from data_ingestion_s3_to_parquet_spark.streaming.statev2 import (
        running_totals_stateful,
    )

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(
        "/root/testdata/sf0.001"  # never started; path just needs to exist
    )
    out = running_totals_stateful(stream)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id",
        "n_events",
        "sum_value_cents",
    ]


def test_stateful_sliding_state_survives_query_restart(spark, tmp_path):
    # two availableNow runs over ONE checkpoint: run 1 ingests early
    # events (windows stay open in the state store), run 2 starts a
    # NEW query on the same checkpoint, ingests the flush event, and
    # must close the run-1 windows from RESTORED state — counts and
    # sums spanning both runs prove the GroupState round-tripped
    import pyspark.sql.functions as F

    from data_ingestion_s3_to_parquet_spark.streaming.stateful import (
        sliding_stateful,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    flush = base + dt.timedelta(days=2)
    batch1 = [
        (1, base + dt.timedelta(minutes=5), 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=20), 1, "click", 2.0),
    ]
    batch2 = [
        (3, base + dt.timedelta(minutes=35), 1, "click", 4.0),
        (4, flush, 1, "click", 0.0),
    ]
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
        q = (
            sliding_stateful(stream)
            .writeStream.format("parquet")  # memory sink can't recover
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(batch1, EVENTS_STREAM_SCHEMA).repartition(1).write.parquet(src)
    run_once()  # windows opened, nothing closable yet
    spark.createDataFrame(batch2, EVENTS_STREAM_SCHEMA).repartition(1).write.mode(
        "append"
    ).parquet(src)
    run_once()  # restored state + new events -> windows close

    streaming = {
        (r.window_start, r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
        if r.window_start < flush - dt.timedelta(hours=1)
    }
    batch = {
        (r.start, r.n, r.s)
        for r in (
            spark.createDataFrame(batch1 + batch2, EVENTS_STREAM_SCHEMA)
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .select(F.col("w.start").alias("start"), F.col("w.end").alias("end"), "n", "s")
            .collect()
        )
        if r.start < flush - dt.timedelta(hours=1)
    }
    assert streaming == batch
    # cross-run windows really did combine: some window must hold
    # events from BOTH runs (e.g. the 00:00 window has all three)
    assert any(n == 3 for _, n, _ in streaming)


def test_stateful_alert_matches_batch_lane_on_closed_buckets(spark, tmp_path):
    # the streaming rate-alert twin must emit, for every CLOSED hour
    # bucket, exactly the batch operator's row (counts, trailing
    # baseline, cross-multiplied alert flag). Buckets close when event
    # time moves 600s past their end, so with max ts at hour 4 the
    # hour-0..2 buckets close and hour 3+ stay open (no row yet).
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_alert_rate_spike,
    )
    from data_ingestion_s3_to_parquet_spark.streaming.stateful import (
        alert_stateful,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(hours=1), 1, "click", 1.0),
        *[
            (10 + i, base + dt.timedelta(hours=2, minutes=i), 1, "click", 1.0)
            for i in range(5)
        ],  # the spike bucket
        (20, base + dt.timedelta(hours=3), 1, "click", 1.0),
        (21, base + dt.timedelta(hours=4), 1, "click", 1.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).repartition(1).write.parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    q = (
        alert_stateful(stream)
        .writeStream.format("memory")
        .queryName("stateful_alerts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.bucket_ts: (r.n_events, r.base_n, r.base_sum, r.alert)
        for r in spark.sql("SELECT * FROM stateful_alerts").collect()
    }

    # batch twin over the same parquet (it reads {dir}/events.parquet)
    batch_dir = str(tmp_path / "asdir")
    spark.createDataFrame(
        [(i, ts, u, t, v, "{}") for i, ts, u, t, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{batch_dir}/events.parquet")
    batch = {
        r.bucket_ts: (r.n_events, r.base_n, r.base_sum, r.alert)
        for r in q_alert_rate_spike(spark, batch_dir).collect()
    }

    closed = [base, base + dt.timedelta(hours=1), base + dt.timedelta(hours=2)]
    assert sorted(got) == closed  # hour 3/4 buckets still open
    for ts in closed:
        assert got[ts] == batch[ts], ts
    assert got[base + dt.timedelta(hours=2)][3] is True  # the spike alerted


def test_stateful_cdc_matches_batch_snapshot(spark, tmp_path):
    # two files driven one-per-microbatch: batch 1 seeds users 1-2;
    # batch 2 advances user 1, delivers a LATE loser for user 2 (no
    # emission — latest-wins compaction), and tombstones user 3.
    # The last emitted row per key (minus tombstones) must equal the
    # batch cdc_apply snapshot over the same rows.
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational6 import (
        q_cdc_apply,
    )
    from data_ingestion_s3_to_parquet_spark.streaming.stateful import cdc_stateful
    from data_ingestion_s3_to_parquet_spark.streaming.stream import (
        EVENTS_STREAM_SCHEMA,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    f1 = [
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=1), 2, "view", 2.0),
        (6, base + dt.timedelta(minutes=2), 3, "click", 9.0),
    ]
    f2 = [
        (3, base + dt.timedelta(hours=1), 1, "purchase", 4.0),
        (4, base - dt.timedelta(hours=1), 2, "click", 8.0),   # late loser
        (5, base + dt.timedelta(hours=2), 3, "error", 16.0),  # tombstone
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(f1, EVENTS_STREAM_SCHEMA).repartition(1).write.parquet(src)
    spark.createDataFrame(f2, EVENTS_STREAM_SCHEMA).repartition(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        cdc_stateful(stream)
        .writeStream.format("memory")
        .queryName("stateful_cdc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT * FROM stateful_cdc ORDER BY user_id, valid_from, last_event_id"
    ).collect()

    # the late loser for user 2 must NOT have emitted a transition
    assert [
        (r.user_id, r.last_event_id, r.is_tombstone) for r in got
    ].count((2, 4, False)) == 0

    # fold emissions: last transition per key wins, tombstones drop
    snap = {}
    for r in got:
        snap[r.user_id] = r
    streamed = {
        u: (r.last_event_id, r.last_type, r.last_value, r.valid_from)
        for u, r in snap.items()
        if not r.is_tombstone
    }

    # batch lane over the same rows (with a props column for the
    # fixture-shaped reader)
    all_rows = [(eid, ts, u, t, v, "{}") for eid, ts, u, t, v in f1 + f2]
    spark.createDataFrame(
        all_rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/batchfix/events.parquet")
    batch = {
        r.user_id: (r.last_event_id, r.last_type, r.last_value, r.valid_from)
        for r in q_cdc_apply(spark, f"{tmp_path}/batchfix").collect()
    }
    assert streamed == batch
    assert set(batch) == {1, 2}  # user 3 tombstoned in both worlds


def test_stateful_interarrival_matches_batch_lane_on_closed_prefix(
    spark, tmp_path
):
    # the streaming inter-arrival twin must fold to the batch
    # operator exactly over the CLOSED prefix: with a sentinel event
    # 2 h after the real traffic, everything but the sentinel closes
    # (lateness 600 s), so the twin's last row per type must equal
    # q_event_interarrival run over the closed events only — same
    # exact accumulators, same pinned sqrt/division sequence. The
    # planted shapes are the batch lane's: "spread" is clock-regular
    # (B = -1 exactly), "burst" clumps 59 events into a minute.
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_event_interarrival,
    )
    from data_ingestion_s3_to_parquet_spark.streaming.stateful import (
        interarrival_stateful,
    )

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    closed = [
        *[
            (i, base + dt.timedelta(seconds=60 * i), 1, "spread", 1.0)
            for i in range(60)
        ],
        *[
            (100 + i, base + dt.timedelta(seconds=i), 1, "burst", 1.0)
            for i in range(59)
        ],
        (200, base + dt.timedelta(seconds=3598), 1, "burst", 1.0),
    ]
    sentinels = [
        (900, base + dt.timedelta(hours=2), 1, "spread", 1.0),
        (901, base + dt.timedelta(hours=2), 1, "burst", 1.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(
        closed + sentinels, EVENTS_STREAM_SCHEMA
    ).repartition(1).write.parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    q = (
        interarrival_stateful(stream)
        .writeStream.format("memory")
        .queryName("stateful_ia")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM stateful_ia").collect()
    got = {}
    for r in rows:  # emission is monotone in n_gaps per type
        if r.event_type not in got or r.n_gaps > got[r.event_type].n_gaps:
            got[r.event_type] = r

    batch_dir = str(tmp_path / "asdir")
    spark.createDataFrame(
        [(i, ts, u, t, v, "{}") for i, ts, u, t, v in closed],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{batch_dir}/events.parquet")
    batch = {r.event_type: r
             for r in q_event_interarrival(spark, batch_dir).collect()}

    assert set(got) == {"spread", "burst"}
    for t in ("spread", "burst"):
        g, b = got[t], batch[t]
        assert (
            g.n_gaps, g.gap_sum_us, g.mean_gap_us_micro,
            g.cv_micro, g.b_index_micro,
        ) == (
            b.n_gaps, b.gap_sum_us, b.mean_gap_us_micro,
            b.cv_micro, b.b_index_micro,
        ), t
    assert got["spread"].b_index_micro == -1_000_000


def test_stateful_interarrival_state_roundtrips_across_batches(
    spark, tmp_path
):
    # two files + maxFilesPerTrigger=1 -> two micro-batches, so the
    # NONZERO accumulators (including the two-limb Σd² packing) must
    # survive a state-store round trip, and the gap ACROSS the batch
    # boundary must be counted exactly once. Batch 1: 10 events 1 s
    # apart + a "pusher" at +3600 s, which closes the ten (9 gaps
    # folded, Σd² > 0 persisted) while itself staying pending.
    # Batch 2: 10 more events at +3700 s.. + a far sentinel, closing
    # pusher and traffic -> n_gaps 20 (9 + pusher + boundary + 9),
    # gap_sum = 9*1s + 3591s + 100s + 9*1s.
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_event_interarrival,
    )
    from data_ingestion_s3_to_parquet_spark.streaming.stateful import (
        interarrival_stateful,
    )

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    first = [
        (i, base + dt.timedelta(seconds=i), 1, "t", 1.0) for i in range(10)
    ] + [(50, base + dt.timedelta(seconds=3600), 1, "t", 1.0)]
    second = [
        (100 + i, base + dt.timedelta(seconds=3700 + i), 1, "t", 1.0)
        for i in range(10)
    ]
    sentinel = [(900, base + dt.timedelta(hours=3), 1, "t", 1.0)]
    src = str(tmp_path / "events")
    spark.createDataFrame(first, EVENTS_STREAM_SCHEMA).repartition(
        1
    ).write.parquet(src)
    spark.createDataFrame(
        second + sentinel, EVENTS_STREAM_SCHEMA
    ).repartition(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        interarrival_stateful(stream)
        .writeStream.format("memory")
        .queryName("stateful_ia_mb")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM stateful_ia_mb").collect()
    assert len(rows) >= 2  # each batch closed something
    last = max(rows, key=lambda r: r.n_gaps)

    batch_dir = str(tmp_path / "asdir")
    spark.createDataFrame(
        [(i, ts, u, t, v, "{}") for i, ts, u, t, v in first + second],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{batch_dir}/events.parquet")
    b, = q_event_interarrival(spark, batch_dir).collect()

    assert (last.n_gaps, last.gap_sum_us) == (
        20, (9 + 3591 + 100 + 9) * 1_000_000
    )
    assert (
        last.mean_gap_us_micro, last.cv_micro, last.b_index_micro
    ) == (b.mean_gap_us_micro, b.cv_micro, b.b_index_micro)


@pytest.mark.parametrize(
    "twin", ["interarrival", "tumbling", "sliding", "alert"]
)
def test_stateful_interarrival_rejects_watermark_past_horizon(spark, twin):
    # ADVICE r12: a watermark longer than the 600 s close horizon
    # would admit events below the closed prefix — negative gaps in
    # the inter-arrival accumulators, a second partial emission of an
    # already-closed window in the window twins — so every twin
    # rejects it loudly, never clamps.
    from data_ingestion_s3_to_parquet_spark.streaming import stateful
    from data_ingestion_s3_to_parquet_spark.streaming.stateful import (
        IA_LATENESS_SECONDS,
        _parse_delay_seconds,
    )

    build = getattr(stateful, f"{twin}_stateful")
    assert _parse_delay_seconds("10 minutes") == 600
    assert _parse_delay_seconds("1 hour") == 3600
    assert _parse_delay_seconds("90 seconds") == 90
    assert IA_LATENESS_SECONDS == 600

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("timestamp AS ts", "'t' AS event_type", "1.0 AS value")
    )
    # at the horizon: fine (builds the plan, no start)
    build(stream, watermark="10 minutes")
    with pytest.raises(ValueError, match="exceeds the close horizon"):
        build(stream, watermark="11 minutes")
    with pytest.raises(ValueError, match="unparseable"):
        _parse_delay_seconds("soon")
    # ADVICE r13: Spark's withWatermark rejects fractional interval
    # quantities, so validation must too — one place, clear message.
    with pytest.raises(ValueError, match="unparseable"):
        _parse_delay_seconds("1.5 hours")
    with pytest.raises(ValueError, match="unparseable"):
        _parse_delay_seconds("0.5 minutes")
