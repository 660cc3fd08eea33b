"""Custom stateful streaming operator: applyInPandasWithState.

Where ``F.session_window`` covers the standard gap-session semantics,
real pipelines need *custom* per-key state machines (e.g. sessions that
also close on a terminal event type). This module implements exactly
that with ``applyInPandasWithState`` — the PySpark arbitrary-stateful
operator (Arrow-batched per key-group, GroupState for persistence,
event-time timeout driven by the watermark).

Scale: state is partitioned by user key in the state store; the
pandas function sees one key's accumulated rows per invocation. Timeout
handling closes idle sessions without waiting for a new event.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_GAP_SECONDS = 30 * 60

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start", TimestampType(), False),
        StructField("session_end", TimestampType(), False),
        StructField("n_events", IntegerType(), False),
        StructField("sum_value", DoubleType(), False),
        StructField("closed_by", StringType(), False),  # gap | terminal | timeout
    ]
)

# state: (start_epoch_us, last_epoch_us, n_events, sum_value)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType(), True),
        StructField("last_us", LongType(), True),
        StructField("n", IntegerType(), True),
        StructField("total", DoubleType(), True),
    ]
)


def _us(ts: pd.Timestamp) -> int:
    return int(ts.value // 1000)


# CalendarInterval unit → seconds, the subset Spark accepts in
# withWatermark delay strings ("10 minutes", "1 hour", ...).
_DELAY_UNIT_S = {
    "microsecond": 1e-6, "millisecond": 1e-3, "second": 1,
    "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
}


def _parse_delay_seconds(delay: str) -> float:
    """Parse a watermark delay string ("10 minutes") to seconds —
    used to validate the caller's watermark against the hardcoded
    close horizon before Spark ever sees it. ADVICE r13: the
    quantity must be an INTEGER — Spark's ``withWatermark`` rejects
    fractional CalendarInterval quantities ("1.5 hours"), so
    accepting them here would pass validation only to fail later
    inside Spark with a murkier error; reject in this one place."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]+?)s?\s*", delay)
    if not m:
        raise ValueError(
            f"unparseable watermark delay: {delay!r} (expected an "
            "integer quantity and a CalendarInterval unit, e.g. "
            "'10 minutes')"
        )
    unit = m.group(2).lower()
    if unit not in _DELAY_UNIT_S:
        raise ValueError(f"unknown watermark delay unit: {delay!r}")
    return float(m.group(1)) * _DELAY_UNIT_S[unit]


def _check_watermark(op: str, watermark: str, horizon_s: int, why: str) -> None:
    """Reject a watermark delay longer than ``op``'s hardcoded close
    horizon: such a watermark admits events for state the operator
    has already closed. Rejected loudly rather than clamped silently."""
    delay_s = _parse_delay_seconds(watermark)
    if delay_s > horizon_s:
        raise ValueError(
            f"{op}: watermark {watermark!r} ({delay_s}s) exceeds the close"
            f" horizon of {horizon_s}s; {why}"
        )


def _emit(user_id, start_us, last_us, n, total, closed_by) -> pd.DataFrame:
    # pd.Timestamp takes NANOSECONDS; state carries microseconds.
    # gap/timeout closes extend to last_event + gap (standard session
    # semantics); a terminal event closes the session AT the event —
    # extending it would overlap the user's next session.
    end_us = (
        last_us
        if closed_by == "terminal"
        else last_us + SESSION_GAP_SECONDS * 1_000_000
    )
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_start": [pd.Timestamp(start_us * 1000)],
            "session_end": [pd.Timestamp(end_us * 1000)],
            "n_events": [n],
            "sum_value": [total],
            "closed_by": [closed_by],
        }
    )


def sessionize_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user session state machine.

    Sessions close on (a) a 30-min event-time gap, (b) a terminal
    'error' event, (c) state timeout at the watermark.
    """
    (user_id,) = key
    if state.hasTimedOut:
        start_us, last_us, n, total = state.get
        state.remove()
        yield _emit(user_id, start_us, last_us, n, total, "timeout")
        return

    rows = pd.concat(list(pdfs)).sort_values("ts")
    if state.exists:
        start_us, last_us, n, total = state.get
    else:
        start_us, last_us, n, total = None, None, 0, 0.0

    gap_us = SESSION_GAP_SECONDS * 1_000_000
    for ts, etype, value in zip(rows["ts"], rows["event_type"], rows["value"]):
        t = _us(ts)
        if start_us is None:
            start_us, last_us, n, total = t, t, 0, 0.0
        elif t - last_us > gap_us:
            # STRICTLY greater: an event at exactly last+gap MERGES,
            # matching batch ``F.session_window``'s inclusive extend
            # boundary (the r3 oracle fix pinned Spark's behavior; the
            # batch/streaming parity test pins this lane to it).
            yield _emit(user_id, start_us, last_us, n, total, "gap")
            start_us, last_us, n, total = t, t, 0, 0.0
        n += 1
        total += float(value)
        last_us = max(last_us, t)
        # a late-but-within-watermark event can precede the persisted
        # session start; the session span must cover it
        start_us = min(start_us, t)
        if etype == "error":  # terminal event closes the session NOW
            yield _emit(user_id, start_us, last_us, n, total, "terminal")
            start_us, last_us, n, total = None, None, 0, 0.0

    if start_us is None:
        if state.exists:
            state.remove()
        return
    state.update((start_us, last_us, n, total))
    # close the session once the watermark passes its gap boundary
    state.setTimeoutTimestamp(last_us // 1000 + SESSION_GAP_SECONDS * 1000)


def sessionize_stateful(events: DataFrame, *, watermark: str = "10 minutes") -> DataFrame:
    """Custom sessionization over a *streaming* events frame.

    ``events`` needs columns (user_id, ts, event_type, value).
    """
    from ..session import tune

    tune(events.sparkSession)  # ships this package to the executors
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize_fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- custom stateful tumbling windows ---------------------------------------
# F.window covers the standard tumbling aggregation; this twin exists
# for the cases it can't express (per-window custom close policies,
# side outputs, early emission) and to pin the custom-stateful lane's
# window semantics to the batch operator (see the parity test). Its
# state machine is ``sliding_fn`` with slide = window.

TUMBLING_WINDOW_SECONDS = 3600
# Per-key allowed lateness before an event-time close — the stream's
# watermark delay may not exceed it, so both closing paths agree.
TUMBLING_LATENESS_SECONDS = 600

TUMBLING_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("window_start", TimestampType(), False),
        StructField("window_end", TimestampType(), False),
        StructField("n_events", IntegerType(), False),
        StructField("sum_value", DoubleType(), False),
    ]
)

# open windows as parallel arrays: starts (epoch us), counts, sums
TUMBLING_STATE_SCHEMA = StructType(
    [
        StructField("starts", ArrayType(LongType()), True),
        StructField("ns", ArrayType(IntegerType()), True),
        StructField("totals", ArrayType(DoubleType()), True),
    ]
)


def _window_rows(etype, buckets, starts_to_close, win_us):
    """Close the given window starts: pop them from ``buckets`` and
    emit one output row each."""
    out = {
        "event_type": [],
        "window_start": [],
        "window_end": [],
        "n_events": [],
        "sum_value": [],
    }
    for s in starts_to_close:
        n, total = buckets.pop(s)
        out["event_type"].append(etype)
        out["window_start"].append(pd.Timestamp(s * 1000))
        out["window_end"].append(pd.Timestamp((s + win_us) * 1000))
        out["n_events"].append(n)
        out["sum_value"].append(total)
    return pd.DataFrame(out)


# --- custom stateful sliding windows ----------------------------------------
# F.window(ts, win, slide) covers standard sliding aggregation; this
# twin exists for what it can't express (per-window close policies,
# early/partial emission) and to pin the custom-stateful lane's
# multi-assignment semantics to the batch operator (see the parity
# test). Reuses the tumbling state layout — open windows as parallel
# arrays keyed by start — the only difference is that every event
# lands in window/slide buckets.

SLIDING_WINDOW_SECONDS = 3600
SLIDING_SLIDE_SECONDS = 900
SLIDING_LATENESS_SECONDS = 600


def sliding_fn(
    window_s: int,
    slide_s: int,
    lateness_s: int,
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-event-type sliding count/sum with epoch-aligned starts —
    identical window assignment to ``F.window(ts, window, slide)``: an
    event at time t belongs to the window/slide half-open
    [start, start+window) intervals whose starts are the slide
    multiples in (t - window, t]. With slide = window this is the
    tumbling twin: one floor(ts/window) bucket per event. Windows
    close when the key's event time moves ``lateness_s`` past their
    end (in-batch, same contract as the watermark), or at the
    event-time timeout for idle keys. The streaming entry points bind
    (window_s, slide_s, lateness_s) with ``functools.partial``.

    State is O(open windows) = O(window/slide + lateness/slide) per
    key regardless of event volume — the same bound Spark's built-in
    sliding aggregation carries per (key, window) pair.
    """
    (etype,) = key
    win_us = window_s * 1_000_000
    slide_us = slide_s * 1_000_000
    late_us = lateness_s * 1_000_000
    k_windows = window_s // slide_s

    if state.hasTimedOut:
        starts, ns, totals = state.get
        buckets = {s: (n, t) for s, n, t in zip(starts, ns, totals)}
        state.remove()
        yield _window_rows(etype, buckets, sorted(buckets), win_us)
        return

    if state.exists:
        starts, ns, totals = state.get
        buckets = {s: [n, t] for s, n, t in zip(starts, ns, totals)}
    else:
        buckets = {}

    max_ts = 0
    for pdf in pdfs:
        for ts, value in zip(pdf["ts"], pdf["value"]):
            t = _us(ts)
            top = t // slide_us * slide_us
            for k in range(k_windows):
                s = top - k * slide_us
                if s in buckets:
                    buckets[s][0] += 1
                    buckets[s][1] += float(value)
                else:
                    buckets[s] = [1, float(value)]
            max_ts = max(max_ts, t)

    closable = sorted(s for s in buckets if s + win_us + late_us <= max_ts)
    if closable:
        yield _window_rows(etype, buckets, closable, win_us)

    if not buckets:
        state.remove()
        return
    state.update(
        (
            list(buckets),
            [buckets[s][0] for s in buckets],
            [buckets[s][1] for s in buckets],
        )
    )
    # idle-key close once the watermark passes the newest open window
    latest_end_ms = (max(buckets) + win_us + late_us) // 1000
    state.setTimeoutTimestamp(latest_end_ms)


# A watermark longer than a window twin's lateness admits events for
# windows it has already closed and emitted.
_REOPENS = "a late event would reopen a closed window and emit it twice"


def _windows_stateful(
    events: DataFrame,
    watermark: str,
    op: str,
    window_s: int,
    slide_s: int,
    lateness_s: int,
) -> DataFrame:
    from ..session import tune

    _check_watermark(op, watermark, lateness_s, _REOPENS)
    tune(events.sparkSession)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            functools.partial(sliding_fn, window_s, slide_s, lateness_s),
            outputStructType=TUMBLING_OUT_SCHEMA,
            stateStructType=TUMBLING_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def tumbling_stateful(events: DataFrame, *, watermark: str = "10 minutes") -> DataFrame:
    """Custom tumbling-window aggregation over a *streaming* events
    frame; ``events`` needs columns (event_type, ts, value)."""
    return _windows_stateful(
        events,
        watermark,
        "tumbling_stateful",
        TUMBLING_WINDOW_SECONDS,
        TUMBLING_WINDOW_SECONDS,
        TUMBLING_LATENESS_SECONDS,
    )


def sliding_stateful(events: DataFrame, *, watermark: str = "10 minutes") -> DataFrame:
    """Custom sliding-window aggregation over a *streaming* events
    frame; ``events`` needs columns (event_type, ts, value)."""
    return _windows_stateful(
        events,
        watermark,
        "sliding_stateful",
        SLIDING_WINDOW_SECONDS,
        SLIDING_SLIDE_SECONDS,
        SLIDING_LATENESS_SECONDS,
    )


# --- custom stateful rate-spike alerting -------------------------------------
# The streaming twin of operators.relational14.q_alert_rate_spike: the
# batch lane computes per-(event_type, hour) counts and flags buckets
# whose count exceeds ALERT_FACTOR x the trailing-
# ALERT_BASELINE_BUCKETS-observed-bucket mean (integer cross-
# multiplication, no division). Standard streaming windows can
# aggregate the buckets, but the BASELINE is cross-window state —
# exactly what applyInPandasWithState exists for: per-key open-bucket
# counts plus the rolling history of the last 24 CLOSED buckets.
# Buckets close in ascending start order (closability is monotone in
# start, so the closable set is always a prefix of the open starts),
# which makes the history order identical to the batch lane's
# bucket_ts order — the parity the test pins.

ALERT_WINDOW_SECONDS = 3600
ALERT_LATENESS_SECONDS = 600

ALERT_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("bucket_ts", TimestampType(), False),
        StructField("n_events", LongType(), False),
        StructField("base_n", LongType(), False),
        StructField("base_sum", LongType(), False),
        StructField("alert", BooleanType(), False),
    ]
)

# state: open buckets (parallel arrays keyed by start) + the trailing
# closed-bucket history the baseline reads (trimmed to 24 entries)
ALERT_STATE_SCHEMA = StructType(
    [
        StructField("starts", ArrayType(LongType()), True),
        StructField("ns", ArrayType(LongType()), True),
        StructField("hist_starts", ArrayType(LongType()), True),
        StructField("hist_ns", ArrayType(LongType()), True),
    ]
)


def _alert_rows(etype, buckets, hist, to_close):
    """Close ``to_close`` (ascending), emitting one alerted row per
    bucket; the baseline is the last ALERT_BASELINE_BUCKETS entries of
    ``hist`` at close time, matching the batch lane's trailing
    observed-bucket ROWS frame."""
    from ..operators.relational14 import ALERT_BASELINE_BUCKETS, ALERT_FACTOR

    out = {
        "event_type": [],
        "bucket_ts": [],
        "n_events": [],
        "base_n": [],
        "base_sum": [],
        "alert": [],
    }
    for s in sorted(to_close):
        n = buckets.pop(s)
        prior = hist[-ALERT_BASELINE_BUCKETS:]
        m = len(prior)
        total = sum(x for _, x in prior)
        out["event_type"].append(etype)
        out["bucket_ts"].append(pd.Timestamp(s * 1000))
        out["n_events"].append(n)
        out["base_n"].append(m)
        out["base_sum"].append(total)
        out["alert"].append(m > 0 and n * m > ALERT_FACTOR * total)
        hist.append((s, n))
        del hist[:-ALERT_BASELINE_BUCKETS]
    return pd.DataFrame(out)


def alert_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-event-type hourly rate-spike alerting with a trailing
    closed-bucket baseline. Buckets close when event time moves
    ``ALERT_LATENESS_SECONDS`` past their end, or at the event-time
    timeout (idle key) — the same close contract as the tumbling
    twin, plus the rolling baseline history the batch operator reads
    through its window frame."""
    (etype,) = key
    win_us = ALERT_WINDOW_SECONDS * 1_000_000
    late_us = ALERT_LATENESS_SECONDS * 1_000_000

    if state.hasTimedOut:
        starts, ns, hs, hn = state.get
        buckets = dict(zip(starts, ns))
        hist = list(zip(hs, hn))
        state.remove()
        yield _alert_rows(etype, buckets, hist, sorted(buckets))
        return

    if state.exists:
        starts, ns, hs, hn = state.get
        buckets = dict(zip(starts, ns))
        hist = list(zip(hs, hn))
    else:
        buckets, hist = {}, []

    max_ts = 0
    for pdf in pdfs:
        for ts in pdf["ts"]:
            t = _us(ts)
            s = t // win_us * win_us
            buckets[s] = buckets.get(s, 0) + 1
            max_ts = max(max_ts, t)

    closable = sorted(s for s in buckets if s + win_us + late_us <= max_ts)
    if closable:
        yield _alert_rows(etype, buckets, hist, closable)

    if not buckets and not hist:
        state.remove()
        return
    state.update(
        (
            list(buckets),
            [buckets[s] for s in buckets],
            [s for s, _ in hist],
            [n for _, n in hist],
        )
    )
    if buckets:
        latest_end_ms = (max(buckets) + win_us + late_us) // 1000
        state.setTimeoutTimestamp(latest_end_ms)


def alert_stateful(events: DataFrame, *, watermark: str = "10 minutes") -> DataFrame:
    """Streaming rate-spike alerting over a *streaming* events frame;
    ``events`` needs columns (event_type, ts)."""
    from ..session import tune

    _check_watermark("alert_stateful", watermark, ALERT_LATENESS_SECONDS, _REOPENS)
    tune(events.sparkSession)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            alert_fn,
            outputStructType=ALERT_OUT_SCHEMA,
            stateStructType=ALERT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# cdc_stateful — streaming twin of operators.relational6.q_cdc_apply

CDC_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("last_event_id", LongType(), False),
        StructField("last_type", StringType(), False),
        StructField("last_value", DoubleType(), False),
        StructField("valid_from", TimestampType(), False),
        StructField("is_tombstone", BooleanType(), False),
    ]
)

# state: the per-key latest-wins winner (ts in epoch micros; the
# (ts, event_id) pair is the batch lane's exact ordering key)
CDC_STATE_SCHEMA = StructType(
    [
        StructField("best_us", LongType(), True),
        StructField("best_event_id", LongType(), True),
        StructField("best_type", StringType(), True),
        StructField("best_value", DoubleType(), True),
    ]
)


def cdc_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user latest-wins CDC compaction: fold the batch's events
    into the stored winner under the batch lane's exact ordering
    (ts DESC, event_id DESC — relational6.q_cdc_apply:152), and emit
    ONE state-transition row when (and only when) the winner
    advanced. Late events that lose to the stored winner emit
    nothing — latest-wins compaction, not an append log — so a
    downstream that upserts the emitted rows in order converges to
    the batch snapshot, tombstones included (the consumer drops
    ``is_tombstone`` keys exactly as the batch lane's final filter
    does)."""
    (user_id,) = key
    if state.hasTimedOut:  # NoTimeout configured; defensive only
        state.remove()
        return
    best = state.get if state.exists else None
    changed = False
    for pdf in pdfs:
        for eid, ts, etype, val in zip(
            pdf["event_id"], pdf["ts"], pdf["event_type"], pdf["value"]
        ):
            cand = (_us(ts), int(eid), str(etype), float(val))
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
                changed = True
    if not changed:
        return
    state.update(best)
    from ..operators.relational6 import CDC_TOMBSTONE

    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "last_event_id": [best[1]],
            "last_type": [best[2]],
            "last_value": [best[3]],
            "valid_from": [pd.Timestamp(best[0] * 1000)],
            "is_tombstone": [best[2] == CDC_TOMBSTONE],
        }
    )


def cdc_stateful(events: DataFrame, *, watermark: str = "10 minutes") -> DataFrame:
    """Streaming latest-wins upsert (the Delta/Iceberg MERGE shape /
    Kafka compacted topic) over a *streaming* events frame; ``events``
    needs columns (event_id, ts, user_id, event_type, value).

    Unlike the windowed twins this needs NO timeout: the snapshot row
    for a key is never "closed", it only advances, so emission is
    driven purely by state transitions. State is one fixed-size tuple
    per key (the winner), the minimum any streaming MERGE can hold."""
    from ..session import tune

    tune(events.sparkSession)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            cdc_fn,
            outputStructType=CDC_OUT_SCHEMA,
            stateStructType=CDC_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# interarrival_stateful — streaming twin of
# operators.relational14.q_event_interarrival

# Inter-arrival statistics are defined over the SORTED event times, so
# the streaming twin buffers events inside the lateness horizon and
# CLOSES them in ascending order once event time moves
# IA_LATENESS_SECONDS past them (the alert twin's close discipline —
# the closable set is always a prefix of the sorted pending times, so
# the gap sequence the accumulators see is exactly the batch lane's
# sorted order over the closed prefix). Σd² outgrows int64 (one
# 30-day gap squared is ~6.7e24 µs²), so the state carries it as two
# 62-bit limbs and the pandas function does the arithmetic in
# Python's arbitrary-precision ints — exactly the decimal/HUGEINT
# discipline of the batch lane, expressed in the state store.

IA_LATENESS_SECONDS = 600
_IA_LIMB = 62  # Σd² limb width: sq = hi·2⁶² + lo

IA_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("n_gaps", LongType(), False),
        StructField("gap_sum_us", LongType(), False),
        StructField("mean_gap_us_micro", LongType(), True),
        StructField("cv_micro", LongType(), True),
        StructField("b_index_micro", LongType(), True),
    ]
)

# state: pending (not-yet-closed) epoch-µs times, the last CLOSED
# time (-1 = none yet), and the exact gap accumulators
IA_STATE_SCHEMA = StructType(
    [
        StructField("pending", ArrayType(LongType()), True),
        StructField("last_us", LongType(), True),
        StructField("n_gaps", LongType(), True),
        StructField("gap_sum", LongType(), True),
        StructField("sq_hi", LongType(), True),
        StructField("sq_lo", LongType(), True),
    ]
)


def _ia_row(etype, n, total, sq) -> pd.DataFrame:
    """One stats row from the exact accumulators — the batch lane's
    pinned op sequence (one IEEE sqrt of the exact integer
    V = n·Σd² − (Σd)², one micro division each, round half away from
    zero), recomputed in Python doubles (== IEEE 754, same bits)."""
    import math

    def half_away(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    if n == 0:
        mean = cv = b = None
    else:
        mean = half_away(1e6 * float(total) / n)
        if total == 0:
            cv = b = None
        else:
            v = n * sq - total * total
            s = math.sqrt(float(v))
            cv = half_away(1e6 * s / float(total))
            b = half_away(1e6 * (s - float(total)) / (s + float(total)))
    return pd.DataFrame(
        {
            "event_type": [etype],
            "n_gaps": [n],
            "gap_sum_us": [total],
            "mean_gap_us_micro": [mean],
            "cv_micro": [cv],
            "b_index_micro": [b],
        }
    )


def interarrival_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-event-type inter-arrival accumulation: buffer arrivals,
    close the sorted prefix that event time has moved
    ``IA_LATENESS_SECONDS`` past, fold each closed time into the
    exact (n, Σd, Σd²) accumulators, and emit the updated statistics
    whenever the closed prefix advanced. The event-time timeout
    flushes an idle key's whole buffer (final row = the batch lane
    over everything seen)."""
    (etype,) = key
    late_us = IA_LATENESS_SECONDS * 1_000_000

    def unpack():
        pending, last, n, total, hi, lo = state.get
        return list(pending), last, n, total, (hi << _IA_LIMB) | lo

    def fold(pending, last, n, total, sq, cutoff):
        pending.sort()
        k = 0
        for t in pending:
            if cutoff is not None and t > cutoff:
                break
            if last >= 0:
                d = t - last
                n += 1
                total += d
                sq += d * d
            last = t
            k += 1
        return pending[k:], last, n, total, sq, k

    if state.hasTimedOut:
        pending, last, n, total, sq = unpack()
        state.remove()
        _, _, n, total, sq, k = fold(pending, last, n, total, sq, None)
        yield _ia_row(etype, n, total, sq)
        return

    if state.exists:
        pending, last, n, total, sq = unpack()
    else:
        pending, last, n, total, sq = [], -1, 0, 0, 0

    max_ts = last
    for pdf in pdfs:
        for ts in pdf["ts"]:
            t = _us(ts)
            pending.append(t)
            max_ts = max(max_ts, t)

    pending, last, n, total, sq, k = fold(
        pending, last, n, total, sq, max_ts - late_us
    )
    if k:
        yield _ia_row(etype, n, total, sq)

    state.update(
        (
            pending,
            last,
            n,
            total,
            sq >> _IA_LIMB,
            sq & ((1 << _IA_LIMB) - 1),
        )
    )
    if pending:
        state.setTimeoutTimestamp((max(pending) + late_us) // 1000)


def interarrival_stateful(
    events: DataFrame, *, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming inter-arrival CV / B-index over a *streaming* events
    frame; ``events`` needs columns (event_type, ts). Emission is
    monotone in ``n_gaps`` per type, so "the row with the largest
    n_gaps" is the current statistics snapshot — the parity the
    pytest pins against ``q_event_interarrival``.

    Scale note: state per key is the exact accumulators plus ONLY
    the events inside the lateness horizon (arrival rate × 600 s),
    never the full history — the same bounded-state contract as the
    alert twin's open buckets.

    The watermark delay must not exceed ``IA_LATENESS_SECONDS``: the
    fold closes everything older than max_ts − 600 s, so a LONGER
    watermark would admit events below the closed prefix and produce
    negative gaps that corrupt the (n, Σd, Σd²) accumulators (ADVICE
    r12). Rejected loudly here rather than clamped silently."""
    from ..session import tune

    _check_watermark(
        "interarrival_stateful",
        watermark,
        IA_LATENESS_SECONDS,
        "events older than the horizon would fold as negative gaps",
    )
    tune(events.sparkSession)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            interarrival_fn,
            outputStructType=IA_OUT_SCHEMA,
            stateStructType=IA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
