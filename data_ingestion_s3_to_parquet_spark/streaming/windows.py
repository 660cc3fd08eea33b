"""Event-time window operators over the ``events`` stream table.

Batch-checkable forms (SURVEY.md §2B streaming): the *same* window
expressions work unchanged under Structured Streaming — these run them
in batch mode so the DuckDB oracle can grade them; the readStream
variants live in ``streaming.stream``.

Timestamp discipline: events.ts is nanosecond-precision in parquet;
Spark reads micros (via the nanosAsLong conversion) while DuckDB keeps
ns. Every query here truncates ts to whole seconds FIRST on both sides,
so emitted boundaries/extrema agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum
from ..plans.spec import Query
from ..sources.catalog import load_table


def _events_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("ts", F.date_trunc("second", F.col("ts")))


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + exact value sum.

    Streaming-identical: ``F.window`` is the same operator under
    readStream + watermark. Scale: tumbling agg is a single shuffle on
    (window, key); partial aggregation applies as usual.
    """
    ev = _events_sec(spark, sf_dir)
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SQL_STREAM_TUMBLING = """
SELECT CAST(time_bucket(INTERVAL '1 hour', date_trunc('second', ts)) AS TIMESTAMP) AS window_start,
       CAST(time_bucket(INTERVAL '1 hour', date_trunc('second', ts)) + INTERVAL '1 hour' AS TIMESTAMP) AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1 hour long, every 15 minutes (4 windows/event).

    Oracle mirrors Spark's epoch-aligned window set by cross-joining
    each event to its 4 candidate window starts.
    """
    ev = _events_sec(spark, sf_dir)
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


SQL_STREAM_SLIDING = """
WITH shifted AS (
  SELECT CAST(time_bucket(INTERVAL '15 minutes', date_trunc('second', ts))
              - k * INTERVAL '15 minutes' AS TIMESTAMP) AS window_start,
         value
  FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) offsets(k)
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_value
FROM shifted
GROUP BY 1, 2
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user: 30-minute inactivity gap.

    Spark semantics: a session's end is last-event-time + gap; an event
    extends the session iff it lands AT or before the current end — the
    boundary is inclusive (verified against a real tie at sf0.1: two
    events exactly 30:00 apart merge into one session), so the oracle's
    gaps-and-islands break predicate must be strict ``>``, not ``>=``.
    Scale: session_window shuffles once on the user key; state size is
    bounded by open sessions — the same operator runs under
    applyInPandasWithState for custom state logic (streaming.stateful).
    """
    ev = _events_sec(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SQL_STREAM_SESSION = """
WITH marked AS (
  SELECT user_id, date_trunc('second', ts) AS ts, value,
         CASE WHEN date_trunc('second', ts)
                   > LAG(date_trunc('second', ts))
                      OVER (PARTITION BY user_id ORDER BY ts)
                      + INTERVAL '30 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, sid
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``stream.dedup_events_stream``: collapse repeated
    deliveries of the same logical event — same (user_id, event_type)
    in the same event-time hour — electing the deterministic survivor
    (min event_id) and reporting the collapse count. The streaming
    form keeps the FIRST arrival with watermark-bounded state
    (``dropDuplicatesWithinWatermark``); batch ``dropDuplicates``
    keeps an ARBITRARY row, so the graded query computes survivor
    election explicitly — min event_id plus ``min_by`` for the
    survivor's payload — which is the same relation whenever arrival
    order follows event_id (the redelivery case). First-arrival and
    state-eviction semantics of the streaming lane are pinned in
    tests/test_streaming.py.

    Scale: one combinable groupBy on the dedup key (min / min_by /
    count all merge map-side); no window, no join. The streaming
    twin's state is bounded by one watermark of distinct keys.
    """
    ev = _events_sec(spark, sf_dir)
    return (
        ev.withColumn("ts_hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("user_id", "event_type", "ts_hour")
        .agg(
            F.count("*").alias("n_deliveries"),
            F.min("event_id").alias("kept_event_id"),
            F.min_by("value", "event_id").alias("kept_value"),
        )
    )


SQL_STREAM_DEDUP = """
SELECT user_id, event_type,
       CAST(date_trunc('hour', date_trunc('second', ts)) AS TIMESTAMP)
         AS ts_hour,
       COUNT(*) AS n_deliveries,
       MIN(event_id) AS kept_event_id,
       MIN_BY(value, event_id) AS kept_value
FROM events
GROUP BY user_id, event_type, 3
"""


# --------------------------------------------------------------------
# stream_bootstrap — the streaming uncertainty leg (VERDICT r12 #5)
# --------------------------------------------------------------------

def _boot_counters(ev: DataFrame) -> DataFrame:
    """Per-(event_type, b) Poisson-bootstrap sufficient statistics
    (Σw, Σw·cents) — a pure streaming-compatible aggregation: the
    explode, the md5 weight, and the sums are all stateless
    projections plus ONE combinable groupBy, so the SAME code path
    runs under readStream (complete/update mode, state = |types|·B
    counter rows) and in batch for the graded twin."""
    from ..operators.trainprep import BOOT_B, _pois_w_expr

    dec = "decimal(38,0)"
    rows = (
        ev.selectExpr(
            "event_type",
            "event_id",
            # the ab_test_metrics cents form: decimal-exact, proven
            # bitwise cross-engine on events.value
            "CAST(CAST(value AS DECIMAL(18,8)) * 100 AS BIGINT) AS cents",
        )
        .withColumn(
            "b", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1)))
        )
        .withColumn(
            "u",
            F.expr(
                "substring(md5(concat('s:', CAST(event_id AS STRING),"
                " ':', CAST(b AS STRING))), 1, 8)"
            ),
        )
        .withColumn("w", F.expr(_pois_w_expr("u")).cast("long"))
    )
    return rows.groupBy("event_type", "b").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w").cast(dec) * F.col("cents")).cast(dec).alias("swc"),
    )


def _boot_finish(g: DataFrame) -> DataFrame:
    """CI finishing over a BATCH counters frame: replicate means via
    the pinned half-up integer division, type-1 rank selection —
    bounded |types|·B input, the post-processing step a streaming
    deployment runs on each counter snapshot."""
    from pyspark.sql.window import Window

    from ..operators.trainprep import (
        BOOT_HI_SEL,
        BOOT_LO_SEL,
        _BOOT_MEAN_EXPR,
    )

    g = g.withColumn(
        "mean_micro",
        F.expr(_BOOT_MEAN_EXPR.format(big="decimal(38,0)", div="div")),
    ).where(F.col("mean_micro").isNotNull())
    win = Window.partitionBy("event_type").orderBy("mean_micro", "b")
    ranked = g.withColumn("rn", F.row_number().over(win)).withColumn(
        "nrep", F.count("*").over(Window.partitionBy("event_type"))
    )
    lo_sel, hi_sel = BOOT_LO_SEL.format(div="div"), BOOT_HI_SEL.format(div="div")
    return ranked.groupBy("event_type").agg(
        F.count("*").alias("n_replicates"),
        F.max(
            F.when(F.col("rn") == F.expr(lo_sel), F.col("mean_micro"))
        ).alias("ci_lo_micro"),
        F.max(
            F.when(F.col("rn") == F.expr(hi_sel), F.col("mean_micro"))
        ).alias("ci_hi_micro"),
    )


def q_stream_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`bootstrap_stream` — the Poisson bootstrap
    CI for the mean event value per event_type, graded end-to-end
    (counters + finishing) against the DuckDB oracle.

    The Poisson bootstrap (Chamandy et al. 2012) was DESIGNED for
    streams: the per-(group, replicate) (Σw, Σw·x) counters are a
    commutative monoid, so they accumulate across micro-batches under
    a plain streaming aggregation with no custom state — the
    streaming lane (:func:`bootstrap_stream`) runs the IDENTICAL
    ``_boot_counters`` code path under readStream, and a
    cross-micro-batch parity pytest in tests/test_streaming.py pins
    that two micro-batches produce bitwise the batch counters and CI.
    The ``s:`` salt keeps this weight stream independent of the
    mean/ratio/quantile lanes'.

    Scale shape: one combinable (type, b) aggregate (shuffle volume
    |types|·B regardless of input), then the bounded rank window.
    Streaming state is |types|·B counter rows — the whole point.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return _boot_finish(_boot_counters(ev))


def bootstrap_stream(events: DataFrame) -> DataFrame:
    """Streaming Poisson-bootstrap counters over a *streaming* events
    frame (needs columns event_type, event_id, value): one combinable
    groupBy — run with outputMode complete/update; the CI finishing
    (:func:`_boot_finish`) is a bounded |types|·B post-processing on
    each snapshot. State never exceeds |types|·B counter rows."""
    from ..session import tune

    tune(events.sparkSession)
    return _boot_counters(events)


def _sql_stream_bootstrap() -> str:
    from ..operators.trainprep import (
        BOOT_B,
        BOOT_HI_SEL,
        BOOT_LO_SEL,
        _BOOT_MEAN_EXPR,
        _pois_w_expr,
    )

    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    return f"""
WITH reps AS (SELECT * FROM (VALUES {b_lit}) AS t(b)),
e AS (
  SELECT event_type, event_id,
         CAST(CAST(value AS DECIMAL(18,8)) * 100 AS BIGINT) AS cents
  FROM events
),
rows_w AS (
  SELECT event_type, b, cents,
         {_pois_w_expr(
             "substr(md5('s:' || CAST(event_id AS VARCHAR) || ':' ||"
             " CAST(b AS VARCHAR)), 1, 8)"
         )} AS w
  FROM e CROSS JOIN reps
),
g AS (
  SELECT event_type, b,
         CAST(SUM(w) AS BIGINT) AS sw,
         SUM(CAST(w AS HUGEINT) * cents) AS swc
  FROM rows_w GROUP BY event_type, b
),
m AS (
  SELECT event_type, b,
         {_BOOT_MEAN_EXPR.format(big="HUGEINT", div="//")} AS mean_micro
  FROM g
),
r AS (
  SELECT event_type, b, mean_micro,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY mean_micro, b) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS nrep
  FROM m WHERE mean_micro IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_replicates,
       MAX(CASE WHEN rn = {BOOT_LO_SEL.format(div="//")} THEN mean_micro END)
         AS ci_lo_micro,
       MAX(CASE WHEN rn = {BOOT_HI_SEL.format(div="//")} THEN mean_micro END)
         AS ci_hi_micro
FROM r GROUP BY event_type
"""


SQL_STREAM_BOOTSTRAP = _sql_stream_bootstrap()


# --------------------------------------------------------------------
# stream_srm
# --------------------------------------------------------------------


def _srm_counters(ev: DataFrame) -> DataFrame:
    """Per-(event_type, arm) exposure counters — a trivial count
    monoid, so the identical code path runs batch or under
    readStream (complete/update mode) with |types|·2 rows of state.
    The arm gate is the A/B family's md5 split on the user id."""
    from ..operators.relational9 import AB_SPLIT_BOUND

    arm = (
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    return ev.groupBy("event_type", arm.alias("a")).agg(
        F.count("*").cast("long").alias("n")
    )


def _srm_finish(g: DataFrame) -> DataFrame:
    """chi²(1 df) SRM finishing over a BATCH counter snapshot: pivot
    the two arm rows per type, append the all-types row (summed from
    the bounded counter frame — the streaming-safe substitute for
    ROLLUP, which streaming aggregation does not support), then the
    srm_check expressions verbatim."""
    from ..operators.relational9 import _SRM_ALERT_EXPR, _SRM_CHI2_EXPR

    dec = "decimal(38,0)"
    per = g.groupBy("event_type").agg(
        F.sum(F.when(F.col("a"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(~F.col("a"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    total = per.agg(
        F.lit("(all)").alias("event_type"),
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
    )
    out = per.unionByName(total).withColumn(
        "n_units", (F.col("n_a") + F.col("n_b")).cast("long")
    )
    return out.select(
        "event_type",
        "n_units",
        "n_a",
        "n_b",
        F.expr(_SRM_CHI2_EXPR.format(big=dec, div="div")).alias(
            "chi2_micro"
        ),
        F.expr(_SRM_ALERT_EXPR.format(big=dec)).alias("srm_alert"),
    )


def q_stream_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`srm_stream` — exposure-level sample-ratio
    mismatch per event_type, graded end-to-end (counters + chi²
    finishing) against the DuckDB oracle.

    ``srm_check`` is the batch UNIT-level gate (customers, ROLLUP);
    this lane is its STREAMING leg at the exposure grain — each
    event row is an exposure record, and exposure-level SRM is the
    first alarm a live experiment fires (a logging path dropping one
    arm's exposures shows here minutes before any unit-level batch
    audit runs). The per-(type, arm) counters are a count monoid, so
    the identical ``_srm_counters`` code path accumulates across
    micro-batches under a plain streaming aggregation — no custom
    state; a cross-micro-batch parity pytest pins two micro-batches
    == batch counters bitwise AND the finished chi² table. The
    all-types row is summed from the bounded counter frame (the
    streaming-safe ROLLUP substitute).

    Exactness: counts are exact; chi² and the α = 0.001 verdict are
    the srm_check expressions verbatim (one pinned half-up micro
    division; integer cross-multiplication against the published
    10.828 critical value). Scale shape: ONE combinable aggregate
    (|types|·2 counter rows of shuffle/state), then the bounded
    finishing frame. Zero joins, zero data windows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    return _srm_finish(_srm_counters(ev))


def srm_stream(events: DataFrame) -> DataFrame:
    """Streaming SRM counters over a *streaming* events frame (needs
    columns event_type, user_id): one combinable groupBy — run with
    outputMode complete/update; :func:`_srm_finish` is the bounded
    post-processing on each snapshot. State: |types|·2 counter rows."""
    from ..session import tune

    tune(events.sparkSession)
    return _srm_counters(events)


def _sql_stream_srm() -> str:
    from ..operators.relational9 import (
        AB_SPLIT_BOUND,
        _SRM_ALERT_EXPR,
        _SRM_CHI2_EXPR,
    )

    chi2 = _SRM_CHI2_EXPR.format(big="HUGEINT", div="//")
    alert = _SRM_ALERT_EXPR.format(big="HUGEINT")
    return f"""
WITH e AS (
  SELECT event_type,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS a
  FROM events
),
per AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM e GROUP BY event_type
),
allr AS (
  SELECT '(all)' AS event_type,
         CAST(SUM(n_a) AS BIGINT) AS n_a,
         CAST(SUM(n_b) AS BIGINT) AS n_b
  FROM per
),
u AS (
  SELECT * FROM per UNION ALL BY NAME SELECT * FROM allr
),
t AS (
  SELECT event_type, CAST(n_a + n_b AS BIGINT) AS n_units, n_a, n_b
  FROM u
)
SELECT event_type, n_units, n_a, n_b,
       {chi2} AS chi2_micro,
       {alert} AS srm_alert
FROM t
"""


SQL_STREAM_SRM = _sql_stream_srm()


ATTRIBUTION_WITHIN = "6 hours"


def q_stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, graded through its batch twin: the
    attribution pattern — each 'view' joined to the same user's
    'click' events with ``r.ts ∈ [l.ts, l.ts + {within}]``. This calls
    the PRODUCTION streaming function (``stream.interval_join_streams``
    — watermarks, eviction reasoning, outer-lane docs) on batch
    inputs, where ``withWatermark`` is a no-op, so the oracle grades
    the exact join expression the readStream lane executes; the
    streaming-specific semantics (state eviction, watermark-late
    drops, eviction-driven outer rows) are pinned separately in
    tests/test_streaming.py.

    Scale: the interval bound is the whole story — with watermarks on
    both inputs Spark can evict buffered rows once they can never
    match again, so join state is bounded by (watermark + interval)
    of per-key traffic rather than the full history. The batch form
    is one hash-partitioned shuffle on user_id with the time predicate
    applied post-match.
    """
    from .stream import interval_join_streams

    ev = _events_sec(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view")
    # shuffle_hash on the click side: both inputs are event-stream-
    # proportional, so neither may broadcast at scale (§45); the
    # streaming lane has no broadcast path at all (state-store join),
    # and the hint rides through the production function untouched
    clicks = ev.where(F.col("event_type") == "click").hint("shuffle_hash")
    return interval_join_streams(views, clicks, within=ATTRIBUTION_WITHIN)


q_stream_join_interval.__doc__ = q_stream_join_interval.__doc__.format(
    within=ATTRIBUTION_WITHIN
)


SQL_STREAM_JOIN_INTERVAL = """
WITH e AS (
  SELECT event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
         user_id, event_type
  FROM events
)
SELECT l.user_id,
       l.event_id AS left_id,
       r.event_id AS right_id,
       l.ts AS left_ts,
       r.ts AS right_ts,
       CAST(epoch(r.ts) - epoch(l.ts) AS BIGINT) AS lag_sec
FROM e l JOIN e r ON l.user_id = r.user_id
WHERE l.event_type = 'view' AND r.event_type = 'click'
  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
"""


QUERIES: list[Query] = [
    Query("stream_tumbling", q_stream_tumbling, SQL_STREAM_TUMBLING, bench=True),
    Query("stream_sliding", q_stream_sliding, SQL_STREAM_SLIDING),
    Query("stream_session", q_stream_session, SQL_STREAM_SESSION),
    Query("stream_dedup", q_stream_dedup, SQL_STREAM_DEDUP),
    Query("stream_bootstrap", q_stream_bootstrap, SQL_STREAM_BOOTSTRAP),
    Query("stream_srm", q_stream_srm, SQL_STREAM_SRM),
    Query("stream_join_interval", q_stream_join_interval, SQL_STREAM_JOIN_INTERVAL),
]
