"""The product/telemetry analytics
staples — time-weighted averaging over irregular samples, funnel
conversion, and cohort retention. These are the queries an analytics
engine is USED for daily; each is a distinct plan shape the registry
didn't yet cover (LOCF segment integration, ordered conditional
minima, self-derived cohort matrix).

- ``time_weighted_avg`` — per-user time-weighted mean of an
  irregularly sampled value: weight each observation by its
  last-observation-carried-forward duration (lead(ts) - ts) instead
  of pretending samples are equally spaced. THE correct average for
  telemetry/pricing series with gaps.
- ``funnel_conversion`` — ordered funnel signup → view → purchase:
  each stage's timestamp must be ≥ the previous stage's (per user,
  earliest qualifying event), emitted as a long-format stage/count
  table.
- ``retention_cohort`` — the classic cohort matrix: users grouped by
  first-activity week, counted as retained in week k if they have any
  event k weeks after their cohort week.

Reference: /root/reference/src/main.rs has none of these (its surface
is the 9 §2A ingestion stages); these extend SURVEY.md §2B per the
BASELINE north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.spec import Query
from ..sources.catalog import load_table

# ---------------------------------------------------------------------------
# time_weighted_avg


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of ``value`` across the user's
    event history: each observation holds until the next one (LOCF),
    so its weight is the segment duration in seconds; the final
    observation (no successor) carries no weight.

    Plan: one window pass (lead over the user partition — same single
    shuffle any per-user feature pays) and one map-side-combinable
    aggregation. Determinism: durations are integer seconds; each
    ``value × dur`` term is rounded to 6 dp (identical doubles both
    engines), quantized exactly through the decimal cast, and the
    MEAN runs in fixed point — integer-scaled sum, half-up integer
    division by the total duration — because a decimal→double cast
    before a rounded division is the midpoint class of SCALE.md §34's
    postscript. Equal-timestamp ties carry zero duration so tie order
    cannot matter.
    """
    e = load_table(spark, sf_dir, "events")
    e = e.select(
        "user_id", "event_id", "value", F.unix_timestamp("ts").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    seg = e.withColumn("dur", F.lead("sec").over(w) - F.col("sec")).where(
        F.col("dur").isNotNull()
    )
    term = F.round(F.col("value") * F.col("dur"), 6)
    agg = seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum("dur").alias("span_sec"),
        (F.sum(term.cast("decimal(28,8)")) * 100_000_000)
        .cast("long")
        .alias("s_int"),
    )
    # half-up integer division at 6 dp (davg's construction: pmod
    # makes the numerator exactly divisible, round snaps the double
    # quotient to the exact integer)
    q = F.col("span_sec") * 100
    num = 2 * F.abs(F.col("s_int")) + q
    den = 2 * q
    units_abs = F.round((num - F.pmod(num, den)) / den, 0).cast("long")
    units = F.when(F.col("s_int") < 0, -units_abs).otherwise(units_abs)
    return agg.select(
        "user_id",
        "n_segments",
        "span_sec",
        (units.cast("double") / 1e6).alias("twa_value"),
    )


SQL_TIME_WEIGHTED_AVG = """
WITH seg AS (
  SELECT user_id, value,
         lead(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
           - CAST(floor(epoch(ts)) AS BIGINT) AS dur
  FROM events
)
, agg AS (
  SELECT user_id,
         COUNT(*) AS n_segments,
         CAST(SUM(dur) AS BIGINT) AS span_sec,
         CAST(SUM(CAST(ROUND(value * dur, 6) AS DECIMAL(28,8))) * 100000000
              AS BIGINT) AS s_int
  FROM seg
  WHERE dur IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_segments, span_sec,
       CAST((CASE WHEN s_int < 0 THEN -1 ELSE 1 END)
            * ((2 * abs(s_int) + span_sec * 100)
               // (2 * span_sec * 100)) AS DOUBLE) / 1000000.0 AS twa_value
FROM agg
"""


# ---------------------------------------------------------------------------
# funnel_conversion

FUNNEL_STEPS = ("signup", "view", "purchase")


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → view → purchase: a user converts at
    stage k only via an event at or after their stage-k-1 timestamp
    (earliest qualifying event each time). Output is long-format
    (step, n_users) — the shape dashboards and significance tests
    consume.

    Plan: three per-user min-aggregations chained by (user, ts)
    frames — each stage is one combinable agg over a filtered scan,
    never a per-user sort. At 100 TB the stage frames carry one row
    per converted user, monotonically shrinking but still
    |users|-sized — so the stage joins are PINNED shuffle-hash
    (Catalyst's post-aggregate estimate would broadcast them; a
    billion-user frame on the driver is an OOM, and the user_id keys
    hash uniformly so the shuffle is skew-free).
    Stage frames are localCheckpointed so each events scan happens
    ONCE: without the cut, every later stage (and the final count)
    re-derives its whole prefix chain — measured as 8 exchanges and
    ~6 logical scans for the naive per-stage-count union, vs 3 scans
    here; the counts themselves come from one left-join row over the
    tiny per-user frames, exploded to long format.
    """
    e = load_table(spark, sf_dir, "events")
    s1 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint()
    )
    s2 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1.hint("shuffle_hash"), "user_id")
        .where(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint()
    )
    s3 = (
        e.where(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2.hint("shuffle_hash"), "user_id")
        .where(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    wide = (
        s1.join(s2.hint("shuffle_hash"), "user_id", "left")
        .join(s3.hint("shuffle_hash"), "user_id", "left")
        .agg(
            F.count("*").alias("n1"),
            F.count("t2").alias("n2"),
            F.count("t3").alias("n3"),
        )
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(f"{i}_{name}").alias("step"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, name in enumerate(FUNNEL_STEPS, start=1)
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


SQL_FUNNEL_CONVERSION = f"""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts >= s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts >= s2.t2
  GROUP BY e.user_id
)
SELECT '1_{FUNNEL_STEPS[0]}' AS step, COUNT(*) AS n_users FROM s1
UNION ALL
SELECT '2_{FUNNEL_STEPS[1]}' AS step, COUNT(*) AS n_users FROM s2
UNION ALL
SELECT '3_{FUNNEL_STEPS[2]}' AS step, COUNT(*) AS n_users FROM s3
"""


# ---------------------------------------------------------------------------
# retention_cohort

_WEEK_SEC = 7 * 86400


def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = ISO week of the user's
    first event; a cohort member counts as retained at offset k if
    they have ANY event in cohort_week + k weeks. Long format
    (cohort_week, week_offset, n_users) — the matrix every growth
    dashboard pivots.

    Plan: first-event agg (combinable) + distinct (user, week) pairs
    (the dedup shuffle carries the user key, hot weeks spread — same
    argument as agg_skew_salted's distinct lane) + one final count.
    Week arithmetic is integer epoch math on week-truncated
    timestamps (differences are exact multiples of 604800 s in UTC),
    so offsets are engine-exact.
    """
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    # first is |users|-sized (per-user first week): pin shuffle-hash —
    # Catalyst's post-aggregate estimate would broadcast it (driver OOM
    # at real user counts); user_id hashes uniformly, no skew
    return (
        active.join(first.hint("shuffle_hash"), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.unix_timestamp("week")
                    - F.unix_timestamp("cohort_week")
                )
                / _WEEK_SEC
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


SQL_RETENTION_COHORT = f"""
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
       CAST((CAST(floor(epoch(week)) AS BIGINT)
             - CAST(floor(epoch(cohort_week)) AS BIGINT)) / {_WEEK_SEC}
            AS BIGINT) AS week_offset,
       COUNT(*) AS n_users
FROM active JOIN first USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# recursive_cte (new in Spark 4: WITH RECURSIVE)

# IDENTICAL SQL text runs on spark.sql and the DuckDB oracle (the
# sql_frontend pattern): ancestor walk over the implicit binary-heap
# hierarchy parent(k) = floor(k / 2) on supplier keys — a
# deterministic parent-child relation derived from fixture data, no
# synthetic table needed. Integer division is spelled
# CAST(FLOOR(x / 2.0) AS BIGINT) because that exact phrase parses and
# means the same thing in both dialects (DuckDB has no DIV, Spark no //).
SQL_RECURSIVE_HIERARCHY = """
WITH RECURSIVE walk(s_suppkey, node, depth) AS (
  SELECT s_suppkey, CAST(s_suppkey AS BIGINT) AS node, 0 AS depth
  FROM supplier
  UNION ALL
  SELECT s_suppkey, CAST(FLOOR(node / 2.0) AS BIGINT) AS node, depth + 1
  FROM walk WHERE node > 1
)
SELECT s_suppkey,
       MAX(depth) AS depth_to_root,
       COUNT(*) AS chain_len,
       CAST(SUM(node) AS BIGINT) AS path_key_sum
FROM walk
GROUP BY s_suppkey
"""


def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy traversal (``WITH RECURSIVE``, new in
    Spark 4): walk every supplier's ancestor chain in the implicit
    parent(k) = floor(k/2) tree and aggregate per-node path facts
    (depth to root, chain length, path key sum).

    This is the iterative-fixpoint pattern expressed DECLARATIVELY —
    the engine owns the loop (each recursion level is one self-join
    the planner schedules), where dedup_components/pagerank hand-roll
    their loops for convergence control and custom state. Depth is
    O(log max_key), so the recursion terminates in ~15 levels
    regardless of table size; per-level frames carry (key, node,
    depth) longs only.
    """
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_RECURSIVE_HIERARCHY)


# ---------------------------------------------------------------------------
# data_expectations

EXPECTED_EVENT_TYPES = ("click", "view", "purchase", "signup")


def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over the events table — the
    Deequ/Great-Expectations pattern: each expectation is evaluated to
    a (rule, n_checked, n_violations, passed) row, so the CONTRACT is
    data a pipeline can branch on (quarantine, alert, block publish),
    not an exception. `profile_table` measures; this judges. One rule
    (allowed event types) fails on this corpus by design — the
    'error' rows — because a validator whose fixtures can't fail
    proves nothing.

    Plan: the five scan-level rules fold into ONE aggregation over one
    scan (conditional counts + a distinct count); the referential rule
    is a left-anti count against the parent key set, PINNED
    shuffle-hash — the key set is |customers|-sized and grows with the
    corpus, so Catalyst's broadcast choice would put the whole parent
    dimension on the driver at scale. At 100 TB both shapes hold:
    conditional counts are combinable, and the anti join carries only
    the key column through a uniform-key shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    allowed = list(EXPECTED_EVENT_TYPES)
    agg = e.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("n_uniq"),
        F.sum(F.col("value").isNull().cast("long")).alias("v_null"),
        F.sum((F.col("value") < 0).cast("long")).alias("v_neg"),
        F.sum((~F.col("event_type").isin(allowed)).cast("long")).alias("v_type"),
        F.sum(
            (
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp"))
            ).cast("long")
        ).alias("v_ts"),
    )
    ri = e.select("user_id").join(
        c.hint("shuffle_hash"), "user_id", "left_anti"
    ).agg(
        F.count("*").alias("v_ri")
    )
    wide = agg.crossJoin(ri)

    # ONE wide row exploded into six rule rows — a union of per-rule
    # selects re-executes the aggregation per branch (measured: 13
    # exchanges / 6 logical scans), while the struct-array explode
    # computes it once (same shape as profile_table)
    def rule(name, violations):
        return F.struct(
            F.lit(name).alias("rule"),
            F.col("n").alias("n_checked"),
            violations.cast("long").alias("n_violations"),
            (violations == 0).alias("passed"),
        )

    rules = F.array(
        rule("event_id_unique", F.col("n") - F.col("n_uniq")),
        rule("value_not_null", F.col("v_null")),
        rule("value_non_negative", F.col("v_neg")),
        rule("event_type_allowed", F.col("v_type")),
        rule("ts_in_2024", F.col("v_ts")),
        rule("user_id_references_customer", F.col("v_ri")),
    )
    return wide.select(F.explode(rules).alias("r")).select("r.*")


_ALLOWED_SQL = ", ".join(f"'{t}'" for t in EXPECTED_EVENT_TYPES)

SQL_DATA_EXPECTATIONS = f"""
WITH agg AS (
  SELECT COUNT(*) AS n,
         COUNT(DISTINCT event_id) AS n_uniq,
         COUNT(*) FILTER (WHERE value IS NULL) AS v_null,
         COUNT(*) FILTER (WHERE value < 0) AS v_neg,
         COUNT(*) FILTER (WHERE event_type NOT IN ({_ALLOWED_SQL})) AS v_type,
         COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-01'
                             OR ts >= TIMESTAMP '2025-01-01') AS v_ts
  FROM events
),
ri AS (
  SELECT COUNT(*) AS v_ri FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
),
wide AS (SELECT * FROM agg CROSS JOIN ri)
SELECT 'event_id_unique' AS rule, n AS n_checked,
       CAST(n - n_uniq AS BIGINT) AS n_violations, (n - n_uniq) = 0 AS passed
FROM wide
UNION ALL SELECT 'value_not_null', n, CAST(v_null AS BIGINT), v_null = 0 FROM wide
UNION ALL SELECT 'value_non_negative', n, CAST(v_neg AS BIGINT), v_neg = 0 FROM wide
UNION ALL SELECT 'event_type_allowed', n, CAST(v_type AS BIGINT), v_type = 0 FROM wide
UNION ALL SELECT 'ts_in_2024', n, CAST(v_ts AS BIGINT), v_ts = 0 FROM wide
UNION ALL SELECT 'user_id_references_customer', n, CAST(v_ri AS BIGINT), v_ri = 0 FROM wide
"""



# ---------------------------------------------------------------------------
# fuzzy_match_strings

FUZZY_PREFIX_LEN = 24
FUZZY_MAX_EDITS = 8


def q_fuzzy_match_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage: document pairs whose normalized
    24-char prefixes are within 8 Levenshtein edits, within language
    blocks — the string-similarity primitive behind entity resolution
    and near-duplicate title/URL matching, on the built-in exact DP
    (``F.levenshtein`` — JVM-side, no UDF; DuckDB's ``levenshtein``
    computes the identical unit-cost distance, so the pairs match
    exactly).

    The lang-block pair join is quadratic within block — the standard
    oracle-twin formulation (same contract as ``sim_join`` /
    ``knn_graph``): at 100 TB the SAME verify step runs on banded
    q-gram/MinHash candidates (``dedup_fuzzy``'s machinery) instead of
    block pairs; Levenshtein-verify-after-candidate is the linkage
    pipeline shape. The family's quadratic guard applies (fixture
    footer row count, no Spark job — :mod:`.guards`): past the bound
    this lane refuses and points at the candidate-based pipeline.
    """
    from .guards import guard_fixture_quadratic

    guard_fixture_quadratic(
        sf_dir, "documents", "fuzzy_match_strings", "dedup_fuzzy"
    )
    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        "lang",
        F.substring(F.lower("text"), 1, FUZZY_PREFIX_LEN).alias("pre"),
    )
    a = p.select(F.col("doc_id").alias("doc_a"), "lang", F.col("pre").alias("pre_a"))
    b = p.select(F.col("doc_id").alias("doc_b"), "lang", F.col("pre").alias("pre_b"))
    return (
        a.join(b, "lang")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("edits", F.levenshtein("pre_a", "pre_b"))
        .where(F.col("edits") <= FUZZY_MAX_EDITS)
        .select("lang", "doc_a", "doc_b", "edits")
    )


SQL_FUZZY_MATCH_STRINGS = f"""
WITH p AS (
  SELECT doc_id, lang, substr(lower(text), 1, {FUZZY_PREFIX_LEN}) AS pre
  FROM documents
)
SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.pre, b.pre) AS edits
FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE levenshtein(a.pre, b.pre) <= {FUZZY_MAX_EDITS}
"""



# ---------------------------------------------------------------------------
# chunk_text

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_CHUNK_STEP = CHUNK_TOKENS - CHUNK_OVERLAP


def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the retrieval/embedding
    ingestion shape: split each document into 64-token chunks with a
    16-token overlap so no sentence is stranded on a boundary, and
    emit (doc_id, chunk_id, start_pos, n_chunk_tokens, chunk_text).

    Entirely Catalyst array algebra: split → ``sequence`` of chunk
    starts → explode → ``slice`` + ``array_join``. Map-only (the
    explode multiplies rows but introduces no shuffle); at 100 TB
    chunking is scan-bound, exactly as the first pass of an embedding
    pipeline must be. The trailing chunk keeps whatever remains (may
    be short) — chunk starts advance by step = tokens − overlap from
    position 1, so every token lands in ≥ 1 chunk and interior tokens
    in exactly 1 + overlap/step on average.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t")
    )
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.col("n") - CHUNK_OVERLAP, F.lit(1)),
        F.lit(_CHUNK_STEP),
    )
    return (
        toks.select("doc_id", "n", "t", F.explode(starts).alias("start_pos"))
        .withColumn("chunk", F.slice("t", F.col("start_pos"), CHUNK_TOKENS))
        .select(
            "doc_id",
            ((F.col("start_pos") - 1) / _CHUNK_STEP + 1)
            .cast("long")
            .alias("chunk_id"),
            "start_pos",
            F.size("chunk").alias("n_chunk_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


SQL_CHUNK_TEXT = f"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n
  FROM documents
),
st AS (
  SELECT doc_id, n, t,
         unnest(generate_series(1, greatest(n - {CHUNK_OVERLAP}, 1),
                                {_CHUNK_STEP})) AS start_pos
  FROM tk
)
SELECT doc_id,
       CAST((start_pos - 1) / {_CHUNK_STEP} + 1 AS BIGINT) AS chunk_id,
       start_pos,
       len(t[start_pos : start_pos + {CHUNK_TOKENS - 1}]) AS n_chunk_tokens,
       array_to_string(t[start_pos : start_pos + {CHUNK_TOKENS - 1}], ' ')
         AS chunk_text
FROM st
"""



# ---------------------------------------------------------------------------
# corpus_report


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card row: one-line corpus summary a data release
    ships with — document and token volume, language spread, the
    exact-duplicate rate (by normalized-content fingerprint), and the
    quality-gate keep rate (Gopher rules) — composed from the same
    building blocks the individual operators grade.

    Plan: one scan computes the volume/fingerprint aggregates
    (map-side combinable; the distinct fingerprint count shuffles
    md5 hashes, not text); the keep rate re-aggregates the
    quality_gopher output (its own single scan); a cross join of two
    one-row frames stitches the report. Rates use the exact decimal
    mean pattern rounded to 6 dp.
    """
    from .textstats import q_quality_gopher

    d = load_table(spark, sf_dir, "documents")
    norm_fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    vol = d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.countDistinct(norm_fp).alias("n_unique"),
    )
    keep = q_quality_gopher(spark, sf_dir).agg(
        F.sum(F.col("keep").cast("long")).alias("n_keep")
    )
    return vol.crossJoin(keep).select(
        "n_docs",
        "n_langs",
        "total_tokens",
        F.round(F.col("total_tokens") / F.col("n_docs"), 6).alias(
            "avg_doc_tokens"
        ),
        (F.col("n_docs") - F.col("n_unique")).alias("n_exact_dups"),
        F.round(
            (F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6
        ).alias("dup_rate"),
        F.round(F.col("n_keep") / F.col("n_docs"), 6).alias("keep_rate"),
    )



# oracle: the volume aggregates inline; the keep count reuses the
# quality_gopher oracle verbatim as a subquery (one source of truth
# for the gate's SQL semantics)
def _sql_corpus_report() -> str:
    from .textstats import SQL_QUALITY_GOPHER

    return f"""
WITH vol AS (
  SELECT COUNT(*) AS n_docs,
         COUNT(DISTINCT lang) AS n_langs,
         SUM(len(string_split(text, ' '))) AS total_tokens,
         COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
           AS n_unique
  FROM documents
),
keep AS (
  SELECT SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep
  FROM ({SQL_QUALITY_GOPHER}) g
)
SELECT n_docs, n_langs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       ROUND(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS avg_doc_tokens,
       CAST(n_docs - n_unique AS BIGINT) AS n_exact_dups,
       ROUND(CAST(n_docs - n_unique AS DOUBLE) / n_docs, 6) AS dup_rate,
       ROUND(CAST(n_keep AS DOUBLE) / n_docs, 6) AS keep_rate
FROM vol CROSS JOIN keep
"""


SQL_CORPUS_REPORT = _sql_corpus_report()



# ---------------------------------------------------------------------------
# value_histogram

HIST_BINS = 20


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of the event values: 20 equal-width bins
    between the global min and max, with explicit bounds per bin — the
    distribution half of the profiling family (`profile_table` gives
    moments and extremes; this gives shape).

    Plan: one tiny min/max aggregate broadcast onto the scan, then a
    map-side-combinable count by bin id — two scans total, shuffle
    carries 20 rows. Bin assignment is the same double arithmetic on
    identical inputs in both engines (floor((v - min) / width · n),
    clamped), so bins match exactly; bounds are emitted from the same
    broadcast row. Empty bins are materialized from a sequence so the
    histogram is always dense (dashboards assume it).
    """
    e = load_table(spark, sf_dir, "events")
    mm = e.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = (
        e.crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / HIST_BINS)
                ),
                F.lit(HIST_BINS - 1),
            )
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )
    dense = mm.select(
        F.explode(F.sequence(F.lit(0), F.lit(HIST_BINS - 1))).alias("bin"),
        "vmin",
        "vmax",
    )
    w = (F.col("vmax") - F.col("vmin")) / HIST_BINS
    return (
        dense.join(binned, "bin", "left")
        .select(
            "bin",
            F.round(F.col("vmin") + F.col("bin") * w, 6).alias("lo"),
            F.round(F.col("vmin") + (F.col("bin") + 1) * w, 6).alias("hi"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


SQL_VALUE_HISTOGRAM = f"""
WITH mm AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events),
binned AS (
  SELECT CAST(least(floor((value - vmin) / ((vmax - vmin) / {HIST_BINS})),
                    {HIST_BINS - 1}) AS BIGINT) AS bin,
         COUNT(*) AS n
  FROM events CROSS JOIN mm
  GROUP BY 1
),
dense AS (
  SELECT unnest(generate_series(0, {HIST_BINS - 1})) AS bin, vmin, vmax
  FROM mm
)
SELECT d.bin,
       ROUND(vmin + d.bin * ((vmax - vmin) / {HIST_BINS}), 6) AS lo,
       ROUND(vmin + (d.bin + 1) * ((vmax - vmin) / {HIST_BINS}), 6) AS hi,
       COALESCE(b.n, 0) AS n
FROM dense d LEFT JOIN binned b ON d.bin = b.bin
"""



# ---------------------------------------------------------------------------
# skyline_frontier


def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders: keep every order not
    dominated by another that is BOTH no-later and no-cheaper (with at
    least one strict) — "the earliest order at every price level worth
    mentioning", the shape behind best-offer views and trade-off
    frontiers.

    Algorithm: under the total order (date ASC, price DESC, key ASC),
    a row is on the frontier iff its price strictly exceeds the
    running maximum of everything before it (equal-date-higher-price
    rows dominate; equal-(date, price) duplicates keep the lowest key
    — a documented convention that both engines share, making the
    frontier engine-exact).

    Scale shape — the interesting part: a naive global running max is
    a single-partition window. Here it is TWO-PHASE: a running max
    within each month partition (parallel), plus a broadcast-size
    table of per-month maxima whose own running max (a window over
    ~tens of rows) supplies the carry-in from all earlier months —
    the classic scan-local + carry decomposition that turns any
    prefix-extremum into a partitioned pass at 100 TB.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.to_date("o_orderdate").alias("d"),
        F.date_trunc("month", "o_orderdate").alias("m"),
    )
    w_in = Window.partitionBy("m").orderBy(
        "d", F.desc("o_totalprice"), "o_orderkey"
    )
    prev_in = F.max("o_totalprice").over(
        w_in.rowsBetween(Window.unboundedPreceding, -1)
    )
    month_max = o.groupBy("m").agg(F.max("o_totalprice").alias("mx"))
    w_m = Window.orderBy("m")  # ~months rows: tiny by construction
    carry = month_max.select(
        "m",
        F.max("mx")
        .over(w_m.rowsBetween(Window.unboundedPreceding, -1))
        .alias("carry_max"),
    )
    return (
        o.withColumn("prev_in", prev_in)
        .join(F.broadcast(carry), "m")
        .where(
            F.col("o_totalprice")
            > F.greatest(
                F.coalesce("prev_in", F.lit(-1.0)),
                F.coalesce("carry_max", F.lit(-1.0)),
            )
        )
        .select("o_orderkey", F.col("d").alias("o_date"), "o_totalprice")
    )


SQL_SKYLINE_FRONTIER = """
WITH o AS (
  SELECT o_orderkey, o_totalprice,
         CAST(o_orderdate AS DATE) AS d,
         date_trunc('month', o_orderdate) AS m
  FROM orders
),
w AS (
  SELECT *,
         MAX(o_totalprice) OVER (PARTITION BY m
                                 ORDER BY d, o_totalprice DESC, o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_in
  FROM o
),
mm AS (SELECT m, MAX(o_totalprice) AS mx FROM o GROUP BY m),
carry AS (
  SELECT m,
         MAX(mx) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS carry_max
  FROM mm
)
SELECT o_orderkey, d AS o_date, o_totalprice
FROM w JOIN carry USING (m)
WHERE o_totalprice > greatest(COALESCE(prev_in, -1), COALESCE(carry_max, -1))
"""



# ---------------------------------------------------------------------------
# basket_pairs

BASKET_MIN_SUPPORT = 2


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs ordered together in at
    least 2 orders, with the lift statistic (how much more often than
    independence would predict) — the association-rule primitive
    behind recommenders and cross-sell analytics.

    Plan: order-level presence first (distinct (order, part) — a part
    repeated across lineitems of one order counts once), then the
    within-order pair join keyed on the order (fan-out bounded by
    items-per-order², ~6 pairs for 4-item baskets — linear in orders,
    never |parts|²), a combinable pair count, and two joins onto the
    per-part order counts. Lift is a ratio of exact integer products
    (n_ab·N / (n_a·n_b)) — identical doubles both engines, the safe
    int/int class (SCALE.md §34 mechanism note).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pres = li.select("l_orderkey", "l_partkey").distinct()
    # shuffle_hash on every fact-derived join side: pres (order-part
    # presence) and part_n (per-part counts) both grow with the corpus,
    # and Catalyst's post-aggregate size estimates would broadcast them
    # — a driver OOM at scale. Only the genuinely 1-row total keeps its
    # explicit broadcast. AQE still localizes small cases.
    a = pres.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = pres.select("l_orderkey", F.col("l_partkey").alias("pb")).hint(
        "shuffle_hash"
    )
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    part_n = pres.groupBy("l_partkey").agg(F.count("*").alias("n_part")).hint(
        "shuffle_hash"
    )
    total = pres.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    return (
        pairs.join(
            part_n.select(F.col("l_partkey").alias("pa"), F.col("n_part").alias("n_a")),
            "pa",
        )
        .join(
            part_n.select(F.col("l_partkey").alias("pb"), F.col("n_part").alias("n_b")),
            "pb",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "pa",
            "pb",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


SQL_BASKET_PAIRS = f"""
WITH pres AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM pres a JOIN pres b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
),
pn AS (SELECT l_partkey, COUNT(*) AS n_part FROM pres GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM pres)
SELECT pa, pb, n_ab,
       ROUND(CAST(n_ab * n_orders AS DOUBLE) / (na.n_part * nb.n_part), 6)
         AS lift
FROM pairs
JOIN pn na ON pa = na.l_partkey
JOIN pn nb ON pb = nb.l_partkey
CROSS JOIN tot
"""



# ---------------------------------------------------------------------------
# period_growth


def q_corr_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (quantity vs price per return
    flag) from EXACT integer sufficient statistics — the analytics
    staple Spark's ``corr()`` computes with an order-dependent float
    accumulator (Welford merges whose rounding depends on partition
    layout, so its raw output can't hash-match any oracle).

    The engine shape every distributed corr/covar should use: one
    map-side-combinable groupBy ships six exact statistics (n, Σx, Σy
    in int64; Σxy, Σx², Σy² summed as DECIMAL(38,0) — cents² × rows
    exceeds int64 headroom at large SFs, and decimal/int128 sums are
    exact and associative on both engines). The statistic itself is
    then a PURE function of exact integers — the ``chi2_contingency``
    rule: cast each of the three combinations (nΣxy−ΣxΣy,
    nΣx²−(Σx)², nΣy²−(Σy)²) to double once (correctly rounded IEEE),
    run a pinned op sequence (multiply, sqrt, divide), micro-quantize.
    Prices become exact integer cents via DECIMAL(18,2) — a 2-dp
    price double is never an exact 3-dp midpoint, so both engines
    round it to the same cents.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    # shared scaffolding (functions/numeric.py, extracted in round 10
    # when corr_spearman/trend_linfit became the 2nd and 3rd copies):
    # decimal-first product sums + the pinned corr op-sequence with
    # the ADVICE r7 zero-variance NULL guard
    from ..functions.numeric import corr_micro_from_stats, suffstat_agg

    stats = base.groupBy("l_returnflag").agg(
        *suffstat_agg(F.col("x"), F.col("y"))
    )
    micro = corr_micro_from_stats()
    return stats.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.col("sxy").cast("long").alias("sxy"),
        (micro.cast("double") / 1e6).alias("corr_qty_price"),
    )


SQL_CORR_PEARSON = """
WITH base AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
stats AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(x * y) AS sxy,
         SUM(x * x) AS sxx,
         SUM(y * y) AS syy
  FROM base GROUP BY l_returnflag
)
SELECT l_returnflag, n, sx, sy,
       CAST(sxy AS BIGINT) AS sxy,
       CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0
             OR n * syy - CAST(sy AS HUGEINT) * sy = 0
            THEN NULL  -- zero-variance group: corr undefined (ADVICE r7)
            ELSE CAST(CAST(ROUND(
            CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
            / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                 * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
            * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0
       END AS corr_qty_price
FROM stats
"""


def q_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly order totals and the
    percentage change versus the previous month — the
    period-over-period shape behind every finance dashboard.

    Revenue is summed exactly (decimal accumulator → integer cents),
    and the growth ratio is the midpoint-free fixed-point quotient
    (``fp_ratio``: (cur − prev)·1e6 / prev, half-up integer division)
    because both operands pass through exact sums — the decimal→double
    divergence class of SCALE.md §34's mechanism note. The lag window
    runs on the ~months-sized aggregate frame, not on orders.
    """
    from ..functions.numeric import fp_ratio

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,8)")) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("month")  # months-sized frame: tiny by design
    prev = F.lag("cents").over(w)
    growth = fp_ratio((F.col("cents") - prev) * 1_000_000, prev, 6)
    return monthly.select(
        "month",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        F.when(prev.isNotNull(), growth).alias("mom_growth"),
    )


SQL_PERIOD_GROWTH = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,8))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
l AS (SELECT *, lag(cents) OVER (ORDER BY month) AS prev FROM m)
SELECT CAST(month AS TIMESTAMP) AS month,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CASE WHEN prev IS NULL THEN NULL
            ELSE CAST((CASE WHEN cents - prev < 0 THEN -1 ELSE 1 END)
                      * ((2 * abs((cents - prev) * 1000000) + prev)
                         // (2 * prev)) AS DOUBLE) / 1000000.0
       END AS mom_growth
FROM l
"""



# ---------------------------------------------------------------------------
# ab_test_metrics

AB_SPLIT_BOUND = "8000"  # md5 hex prefix < '8000' -> arm A (50/50)


def q_ab_test_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: deterministically assign every user to arm
    A or B (md5 hash gate — the same layout-invariant construction as
    sample_split, so assignment survives reruns and appends), then
    report per-arm event counts, mean value, and the relative effect
    (B vs A) — the one-row summary an A/B dashboard renders.

    All arithmetic is the fixed-point lane end to end: cent-quantized
    integer sums, half-up integer division for the 6-dp means
    (micro-units), and the relative effect as a fixed-point ratio OF
    those integer means — no decimal→double cast anywhere (SCALE.md
    §34 mechanism note). One conditional aggregation over one scan.
    """
    e = load_table(spark, sf_dir, "events")
    arm_a = (
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    cents = (F.col("value").cast("decimal(18,8)") * 100).cast("long")
    agg = e.select(arm_a.alias("a"), cents.alias("c")).agg(
        F.sum(F.col("a").cast("long")).alias("n_a"),
        F.sum((~F.col("a")).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("a"), F.col("c")).otherwise(0)).alias("s_a"),
        F.sum(F.when(~F.col("a"), F.col("c")).otherwise(0)).alias("s_b"),
    )

    def units(s_cents, n):
        # mean in 1e-6 units: round(cents * 1e4 / n) half-up (sums
        # are non-negative here; values in the fixture are >= 0)
        num = 2 * s_cents * 10_000 + n
        den = 2 * n
        return F.round((num - F.pmod(num, den)) / den, 0).cast("long")

    agg = agg.select(
        "n_a",
        "n_b",
        units(F.col("s_a"), F.col("n_a")).alias("u_a"),
        units(F.col("s_b"), F.col("n_b")).alias("u_b"),
    )
    from ..functions.numeric import fp_ratio

    return agg.select(
        "n_a",
        "n_b",
        (F.col("u_a").cast("double") / 1e6).alias("mean_a"),
        (F.col("u_b").cast("double") / 1e6).alias("mean_b"),
        fp_ratio((F.col("u_b") - F.col("u_a")) * 1_000_000, F.col("u_a"), 6).alias(
            "rel_effect"
        ),
    )


SQL_AB_TEST_METRICS = f"""
WITH t AS (
  SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '{AB_SPLIT_BOUND}' AS a,
         CAST(CAST(value AS DECIMAL(18,8)) * 100 AS BIGINT) AS c
  FROM events
),
agg AS (
  SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN c ELSE 0 END) AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE c END) AS s_b
  FROM t
),
u AS (
  SELECT n_a, n_b,
         (2 * s_a * 10000 + n_a) // (2 * n_a) AS u_a,
         (2 * s_b * 10000 + n_b) // (2 * n_b) AS u_b
  FROM agg
)
SELECT n_a, n_b,
       CAST(u_a AS DOUBLE) / 1000000.0 AS mean_a,
       CAST(u_b AS DOUBLE) / 1000000.0 AS mean_b,
       CAST((CASE WHEN u_b - u_a < 0 THEN -1 ELSE 1 END)
            * ((2 * abs((u_b - u_a) * 1000000) + u_a) // (2 * u_a))
            AS DOUBLE) / 1000000.0 AS rel_effect
FROM u
"""


# --------------------------------------------------------------------
# perm_test_diff
# --------------------------------------------------------------------

PERM_B = 99  # permutations; add-one p-value granularity 1/100

# Arm mean in micro-dollars from exact cents: the midpoint-free
# half-up integer division, NULL on an empty arm.
_PT_U_EXPR = (
    "CASE WHEN {n} = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(10000 AS {big}) * CAST({s} AS {big}) + {n})"
    " {div} (2 * CAST({n} AS {big})) AS BIGINT) END"
)
# Add-one permutation p-value (Phipson & Smyth 2010) in micro units:
# p = (n_ge + 1) / (n_perms + 1), one pinned half-up integer division.
_PT_P_EXPR = (
    "CASE WHEN d_obs_micro IS NULL OR n_perms = 0 THEN"
    " CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * 1000000 * (n_ge + 1) + (n_perms + 1))"
    " {div} (2 * (n_perms + 1)) AS BIGINT) END"
)


def q_perm_test_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic permutation test for the difference of arm mean
    order prices — the SIGNIFICANCE leg next to ``ab_test_metrics``'s
    effect-size readout (VERDICT r12 #4): the effect lane says how
    big the A-vs-B gap is; this lane says whether a gap that big
    could plausibly arise from the assignment randomness alone.

    Customers are the randomization unit (the same md5 hex gate as
    the observed ``ab_test_metrics`` assignment), so the relabeling
    is CLUSTER-level: permutation p reassigns each customer — not
    each order — via md5('p:' || custkey || ':' || p), holding all
    of a customer's orders together exactly as a real experiment
    would. Event-level relabeling would fake n-fold more
    randomization units and anti-conservative p-values; the unit
    discipline is the statistical content of this lane. Labels are
    md5-derived like the bootstrap lanes' weights: layout-free,
    rerun-stable, engine-identical, no rand() anywhere.

    Statistic: d = mean_B − mean_A in micro-dollars, each mean ONE
    pinned half-up integer division on exact decimal/HUGEINT cent
    sums. p-value: the add-one estimator (n_ge + 1)/(B + 1) over
    the B = 99 relabelings (Phipson & Smyth 2010 — never report a
    permutation p of zero), one more pinned micro division. A
    relabeling that empties an arm (probability ~2^−|customers|)
    yields a NULL d and is excluded; ``n_perms`` reports the
    effective count.

    Scale shape: one broadcast ×B explode of the fact scan, ONE
    map-side-combinable groupBy(p) — shuffle volume is B rows of
    four counters regardless of input size — then a broadcast of the
    1-row observed statistic onto the B-row frame and a final tiny
    aggregate. Zero data-sized joins, zero sorts, zero windows.
    """
    p_lit = ", ".join(f"({p})" for p in range(1, PERM_B + 1))
    perms = spark.sql(f"SELECT * FROM VALUES {p_lit} AS t(p)")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"

    def arm_sums(df, arm):
        return df.agg(
            F.sum(arm.cast("long")).alias("n_a"),
            F.sum((~arm).cast("long")).alias("n_b"),
            F.sum(F.when(arm, F.col("cents")).otherwise(0).cast(dec))
            .cast(dec)
            .alias("s_a"),
            F.sum(F.when(~arm, F.col("cents")).otherwise(0).cast(dec))
            .cast(dec)
            .alias("s_b"),
        )

    def with_d(df, out):
        u_a = _PT_U_EXPR.format(n="n_a", s="s_a", big=dec, div="div")
        u_b = _PT_U_EXPR.format(n="n_b", s="s_b", big=dec, div="div")
        return df.withColumn(out, F.expr(f"({u_b}) - ({u_a})"))

    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = with_d(arm_sums(o, obs_arm), "d_obs_micro").select(
        "n_a", "n_b", "d_obs_micro"
    )
    rows = o.crossJoin(F.broadcast(perms))
    perm_arm = F.expr(
        "substring(md5(concat('p:', CAST(unit AS STRING), ':',"
        f" CAST(p AS STRING))), 1, 4) < '{AB_SPLIT_BOUND}'"
    )
    g = with_d(arm_sums(rows.groupBy("p"), perm_arm), "d_micro").select(
        "p", "d_micro"
    )
    joined = g.crossJoin(F.broadcast(obs))
    stats = joined.groupBy("n_a", "n_b", "d_obs_micro").agg(
        F.count("d_micro").alias("n_perms"),
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("d_micro"))
                    >= F.abs(F.col("d_obs_micro")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_ge"),
    )
    return stats.select(
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_perms",
        "n_ge",
        F.expr(_PT_P_EXPR.format(div="div")).alias("p_micro"),
    )


def _sql_perm_test_diff() -> str:
    p_lit = ", ".join(f"({p})" for p in range(1, PERM_B + 1))
    u_a = _PT_U_EXPR.format(n="n_a", s="s_a", big="HUGEINT", div="//")
    u_b = _PT_U_EXPR.format(n="n_b", s="s_b", big="HUGEINT", div="//")
    return f"""
WITH perms AS (SELECT * FROM (VALUES {p_lit}) AS t(p)),
o AS (
  SELECT o_custkey AS unit,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
obs0 AS (
  SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN cents ELSE 0 END) AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE cents END) AS s_b
  FROM (SELECT substr(md5(CAST(unit AS VARCHAR)), 1, 4)
                 < '{AB_SPLIT_BOUND}' AS a,
               cents
        FROM o)
),
obs AS (
  SELECT n_a, n_b, ({u_b}) - ({u_a}) AS d_obs_micro FROM obs0
),
g0 AS (
  SELECT p,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN cents ELSE 0 END) AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE cents END) AS s_b
  FROM (SELECT p,
               substr(md5('p:' || CAST(unit AS VARCHAR) || ':'
                          || CAST(p AS VARCHAR)), 1, 4)
                 < '{AB_SPLIT_BOUND}' AS a,
               cents
        FROM o CROSS JOIN perms)
  GROUP BY p
),
g AS (
  SELECT p, ({u_b}) - ({u_a}) AS d_micro FROM g0
),
stats AS (
  SELECT obs.n_a, obs.n_b, obs.d_obs_micro,
         CAST(COUNT(d_micro) AS BIGINT) AS n_perms,
         CAST(COALESCE(SUM(CASE WHEN abs(d_micro)
                                     >= abs(d_obs_micro)
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_ge
  FROM g CROSS JOIN obs
  GROUP BY obs.n_a, obs.n_b, obs.d_obs_micro
)
SELECT n_a, n_b, d_obs_micro, n_perms, n_ge,
       {_PT_P_EXPR.format(div="//")} AS p_micro
FROM stats
"""


SQL_PERM_TEST_DIFF = _sql_perm_test_diff()


# --------------------------------------------------------------------
# bootstrap_ci_diff
# --------------------------------------------------------------------


def q_bootstrap_ci_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-bootstrap CI for the difference of arm mean order
    prices — the effect-size uncertainty next to ``perm_test_diff``'s
    significance verdict: the permutation lane says whether the A-vs-B
    gap could be assignment noise; this lane says how precisely the
    gap itself is estimated. Together with ``ab_test_metrics`` they
    complete the experiment readout (effect, p-value, CI).

    The unit discipline carries over: customers — the randomization
    unit — are resampled as WHOLE clusters. Replicate b gives every
    customer ONE Poisson(1) weight w = ladder(md5('d:'||custkey||':'
    ||b)) that applies to all of the customer's orders (the cluster
    bootstrap; resampling orders independently would understate the
    variance of a customer-randomized experiment). Because the weight
    is a pure function of (custkey, b), it is computed per ROW with
    no customer table and no join.

    Per replicate: d_b = Σ_B w·cents/Σ_B w − Σ_A w·cents/Σ_A w, each
    mean ONE pinned half-up integer division on decimal/HUGEINT sums;
    a replicate that empties an arm is NULL and excluded
    (``n_replicates`` reports the effective count); bounds are type-1
    rank-selected over the ≤ B replicate window — picked, never
    interpolated. ``d_obs_micro`` (the plain difference) is reported
    alongside so the CI reads against its point estimate.

    Scale shape: one broadcast ×B explode, ONE map-side-combinable
    groupBy(b) of four counters (shuffle volume B·4 regardless of
    input), the bounded ≤ B-row rank window (single-partition by
    design — the experiment is one global statistic), and the 1-row
    observed broadcast. Zero data-sized joins, zero sorts.
    """
    from .trainprep import (
        BOOT_B,
        BOOT_HI_SEL,
        BOOT_LO_SEL,
        _pois_w_expr,
    )

    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    reps = spark.sql(f"SELECT * FROM VALUES {b_lit} AS t(b)")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"
    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    u_a = _PT_U_EXPR.format(n="n_a", s="s_a", big=dec, div="div")
    u_b = _PT_U_EXPR.format(n="n_b", s="s_b", big=dec, div="div")
    obs = (
        o.agg(
            F.sum(obs_arm.cast("long")).alias("n_a"),
            F.sum((~obs_arm).cast("long")).alias("n_b"),
            F.sum(F.when(obs_arm, F.col("cents")).otherwise(0).cast(dec))
            .cast(dec)
            .alias("s_a"),
            F.sum(F.when(~obs_arm, F.col("cents")).otherwise(0).cast(dec))
            .cast(dec)
            .alias("s_b"),
        )
        .withColumn("d_obs_micro", F.expr(f"({u_b}) - ({u_a})"))
        .select("n_a", "n_b", "d_obs_micro")
    )
    rows = (
        o.crossJoin(F.broadcast(reps))
        .withColumn("a", obs_arm)
        .withColumn(
            "u",
            F.expr(
                "substring(md5(concat('d:', CAST(unit AS STRING), ':',"
                " CAST(b AS STRING))), 1, 8)"
            ),
        )
        .withColumn("w", F.expr(_pois_w_expr("u")).cast("long"))
    )
    g = rows.groupBy("b").agg(
        F.sum(F.when(F.col("a"), F.col("w")).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("a"), F.col("w")).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col("a"), F.col("w").cast(dec) * F.col("cents"))
            .otherwise(0)
            .cast(dec)
        )
        .cast(dec)
        .alias("s_a"),
        F.sum(
            F.when(~F.col("a"), F.col("w").cast(dec) * F.col("cents"))
            .otherwise(0)
            .cast(dec)
        )
        .cast(dec)
        .alias("s_b"),
    )
    g = g.withColumn("d_micro", F.expr(f"({u_b}) - ({u_a})")).where(
        F.col("d_micro").isNotNull()
    )
    win = Window.partitionBy(F.lit(0)).orderBy("d_micro", "b")
    ranked = g.withColumn("rn", F.row_number().over(win)).withColumn(
        "nrep", F.count("*").over(Window.partitionBy(F.lit(0)))
    )
    lo_sel, hi_sel = BOOT_LO_SEL.format(div="div"), BOOT_HI_SEL.format(div="div")
    ci = ranked.agg(
        F.count("*").alias("n_replicates"),
        F.max(
            F.when(F.col("rn") == F.expr(lo_sel), F.col("d_micro"))
        ).alias("ci_lo_micro"),
        F.max(
            F.when(F.col("rn") == F.expr(hi_sel), F.col("d_micro"))
        ).alias("ci_hi_micro"),
    )
    return ci.crossJoin(F.broadcast(obs)).select(
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_replicates",
        "ci_lo_micro",
        "ci_hi_micro",
    )


def _sql_bootstrap_ci_diff() -> str:
    from .trainprep import (
        BOOT_B,
        BOOT_HI_SEL,
        BOOT_LO_SEL,
        _pois_w_expr,
    )

    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    u_a = _PT_U_EXPR.format(n="n_a", s="s_a", big="HUGEINT", div="//")
    u_b = _PT_U_EXPR.format(n="n_b", s="s_b", big="HUGEINT", div="//")
    return f"""
WITH reps AS (SELECT * FROM (VALUES {b_lit}) AS t(b)),
o AS (
  SELECT o_custkey AS unit,
         substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS a,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
obs0 AS (
  SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN cents ELSE 0 END) AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE cents END) AS s_b
  FROM o
),
obs AS (
  SELECT n_a, n_b, ({u_b}) - ({u_a}) AS d_obs_micro FROM obs0
),
rows_w AS (
  SELECT b, a, cents,
         {_pois_w_expr(
             "substr(md5('d:' || CAST(unit AS VARCHAR) || ':' ||"
             " CAST(b AS VARCHAR)), 1, 8)"
         )} AS w
  FROM o CROSS JOIN reps
),
g0 AS (
  SELECT b,
         CAST(SUM(CASE WHEN a THEN w ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE w END) AS BIGINT) AS n_b,
         SUM(CASE WHEN a THEN CAST(w AS HUGEINT) * cents ELSE 0 END)
           AS s_a,
         SUM(CASE WHEN a THEN 0 ELSE CAST(w AS HUGEINT) * cents END)
           AS s_b
  FROM rows_w GROUP BY b
),
g AS (
  SELECT b, ({u_b}) - ({u_a}) AS d_micro FROM g0
),
r AS (
  SELECT b, d_micro,
         row_number() OVER (ORDER BY d_micro, b) AS rn,
         COUNT(*) OVER () AS nrep
  FROM g WHERE d_micro IS NOT NULL
),
ci AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
         MAX(CASE WHEN rn = {BOOT_LO_SEL.format(div="//")} THEN d_micro END)
           AS ci_lo_micro,
         MAX(CASE WHEN rn = {BOOT_HI_SEL.format(div="//")} THEN d_micro END)
           AS ci_hi_micro
  FROM r
)
SELECT n_a, n_b, d_obs_micro, n_replicates, ci_lo_micro, ci_hi_micro
FROM ci CROSS JOIN obs
"""


SQL_BOOTSTRAP_CI_DIFF = _sql_bootstrap_ci_diff()


# --------------------------------------------------------------------
# perm_test_ratio
# --------------------------------------------------------------------

# Arm urgent-share in micro units: the same midpoint-free half-up
# integer division, NULL on an empty arm.
_PT_SHARE_EXPR = (
    "CASE WHEN {n} = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST({u} AS {big}) + {n})"
    " {div} (2 * CAST({n} AS {big})) AS BIGINT) END"
)


def q_perm_test_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic permutation test for the difference of arm
    URGENT-ORDER SHARES — the significance leg for the ratio metric,
    completing the experiment matrix: the mean column has
    ``perm_test_diff`` (p) + ``bootstrap_ci_diff`` (CI); the ratio
    column had only ``bootstrap_ci_ratio``'s CI until this lane.
    Shares are where the permutation test earns its keep over the
    normal approximation exactly as the bootstrap did: a difference
    of proportions near 0 or 1 has no trustworthy closed-form null.

    Identical machinery to ``perm_test_diff`` (customer-level
    md5 relabelings — the randomization-unit discipline — B = 99,
    add-one p-value), with an INDEPENDENT label stream (the ``pr:``
    salt) and the statistic d = share_B − share_A where each share
    is ONE pinned half-up micro division of exact integer counts.
    The indicator is order urgency (o_orderpriority = '1-URGENT'),
    the same metric ``bootstrap_ci_ratio`` interval-estimates, so
    the two lanes read together as (CI, p) for one quantity.

    Scale shape: perm_test_diff's — one broadcast ×B explode, ONE
    map-side-combinable groupBy(p) of four counters, the 1-row
    observed broadcast, a tiny final reduce. Zero data joins.
    """
    p_lit = ", ".join(f"({p})" for p in range(1, PERM_B + 1))
    perms = spark.sql(f"SELECT * FROM VALUES {p_lit} AS t(p)")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("u"),
    )
    dec = "decimal(38,0)"

    def arm_counts(df, arm):
        return df.agg(
            F.sum(arm.cast("long")).alias("n_a"),
            F.sum((~arm).cast("long")).alias("n_b"),
            F.sum(F.when(arm, F.col("u")).otherwise(0)).alias("u_a"),
            F.sum(F.when(~arm, F.col("u")).otherwise(0)).alias("u_b"),
        )

    def with_d(df, out):
        s_a = _PT_SHARE_EXPR.format(n="n_a", u="u_a", big=dec, div="div")
        s_b = _PT_SHARE_EXPR.format(n="n_b", u="u_b", big=dec, div="div")
        return df.withColumn(out, F.expr(f"({s_b}) - ({s_a})"))

    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = with_d(arm_counts(o, obs_arm), "d_obs_micro").select(
        "n_a", "n_b", "d_obs_micro"
    )
    rows = o.crossJoin(F.broadcast(perms))
    perm_arm = F.expr(
        "substring(md5(concat('pr:', CAST(unit AS STRING), ':',"
        f" CAST(p AS STRING))), 1, 4) < '{AB_SPLIT_BOUND}'"
    )
    g = with_d(arm_counts(rows.groupBy("p"), perm_arm), "d_micro").select(
        "p", "d_micro"
    )
    joined = g.crossJoin(F.broadcast(obs))
    stats = joined.groupBy("n_a", "n_b", "d_obs_micro").agg(
        F.count("d_micro").alias("n_perms"),
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("d_micro"))
                    >= F.abs(F.col("d_obs_micro")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("n_ge"),
    )
    return stats.select(
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_perms",
        "n_ge",
        F.expr(_PT_P_EXPR.format(div="div")).alias("p_micro"),
    )


def _sql_perm_test_ratio() -> str:
    p_lit = ", ".join(f"({p})" for p in range(1, PERM_B + 1))
    s_a = _PT_SHARE_EXPR.format(n="n_a", u="u_a", big="HUGEINT", div="//")
    s_b = _PT_SHARE_EXPR.format(n="n_b", u="u_b", big="HUGEINT", div="//")
    return f"""
WITH perms AS (SELECT * FROM (VALUES {p_lit}) AS t(p)),
o AS (
  SELECT o_custkey AS unit,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders
),
obs0 AS (
  SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN a THEN u ELSE 0 END) AS BIGINT) AS u_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE u END) AS BIGINT) AS u_b
  FROM (SELECT substr(md5(CAST(unit AS VARCHAR)), 1, 4)
                 < '{AB_SPLIT_BOUND}' AS a,
               u
        FROM o)
),
obs AS (
  SELECT n_a, n_b, ({s_b}) - ({s_a}) AS d_obs_micro FROM obs0
),
g0 AS (
  SELECT p,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN a THEN u ELSE 0 END) AS BIGINT) AS u_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE u END) AS BIGINT) AS u_b
  FROM (SELECT p,
               substr(md5('pr:' || CAST(unit AS VARCHAR) || ':'
                          || CAST(p AS VARCHAR)), 1, 4)
                 < '{AB_SPLIT_BOUND}' AS a,
               u
        FROM o CROSS JOIN perms)
  GROUP BY p
),
g AS (
  SELECT p, ({s_b}) - ({s_a}) AS d_micro FROM g0
),
stats AS (
  SELECT obs.n_a, obs.n_b, obs.d_obs_micro,
         CAST(COUNT(d_micro) AS BIGINT) AS n_perms,
         CAST(COALESCE(SUM(CASE WHEN abs(d_micro)
                                     >= abs(d_obs_micro)
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_ge
  FROM g CROSS JOIN obs
  GROUP BY obs.n_a, obs.n_b, obs.d_obs_micro
)
SELECT n_a, n_b, d_obs_micro, n_perms, n_ge,
       {_PT_P_EXPR.format(div="//")} AS p_micro
FROM stats
"""


SQL_PERM_TEST_RATIO = _sql_perm_test_ratio()


# --------------------------------------------------------------------
# srm_check
# --------------------------------------------------------------------

# chi-square(1 df) critical value at alpha = 0.001, micro-quantized
# (10.828 — the SRM-alert threshold the large A/B platforms publish;
# Fabijan et al. 2019). The verdict is an exact integer
# cross-multiplication, never a float compare.
SRM_CHI2_CRIT_MICRO = 10_828_000

_SRM_CHI2_EXPR = (
    "CASE WHEN n_units = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(1000000 AS {big})"
    " * CAST(n_a - n_b AS {big}) * CAST(n_a - n_b AS {big}) + n_units)"
    " {div} (2 * CAST(n_units AS {big})) AS BIGINT) END"
)
_SRM_ALERT_EXPR = (
    "CAST(1000000 AS {big}) * CAST(n_a - n_b AS {big})"
    f" * CAST(n_a - n_b AS {{big}}) > {SRM_CHI2_CRIT_MICRO}"
    " * CAST(n_units AS {big})"
)


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit — the A/B hygiene check that must
    pass BEFORE ``ab_test_metrics`` / ``perm_test_diff`` /
    ``bootstrap_ci_diff`` are worth reading: if the observed arm
    sizes are inconsistent with the designed 50/50 md5 gate, the
    experiment's data path is losing or duplicating units and every
    downstream readout is invalid (Fabijan, Gupchup et al., KDD 2019
    — the industry-standard pre-analysis gate).

    Customers are the assignment unit, so the check counts UNITS
    (one row per customer), and it runs per NATION plus the global
    row via ROLLUP — segment-level SRM is the classic failure a
    global check hides (one country's consent banner eats arm B;
    globally the loss averages out). chi² with 1 df against the
    designed even split collapses to (n_a − n_b)²/N; the statistic
    is ONE pinned half-up micro division and the α = 0.001 verdict
    an exact integer cross-multiplication against the published
    critical value 10.828 — no float compare, no p-value table.

    Scale shape: one map-side-combinable ROLLUP aggregate over the
    customer scan (output |nations| + 1 rows); the md5 gate is a
    pure per-row function. Zero joins, zero windows, zero
    broadcasts.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nk"),
        (
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 4)
            < AB_SPLIT_BOUND
        ).alias("a"),
    )
    dec = "decimal(38,0)"
    g = (
        c.rollup("nk")
        .agg(
            F.count("*").alias("n_units"),
            F.sum(F.col("a").cast("long")).alias("n_a"),
            F.sum((~F.col("a")).cast("long")).alias("n_b"),
        )
        .select(
            F.coalesce(F.col("nk"), F.lit(-1)).alias("nationkey"),
            "n_units",
            "n_a",
            "n_b",
        )
    )
    return g.select(
        "nationkey",
        "n_units",
        "n_a",
        "n_b",
        F.expr(_SRM_CHI2_EXPR.format(big=dec, div="div")).alias(
            "chi2_micro"
        ),
        F.expr(_SRM_ALERT_EXPR.format(big=dec)).alias("srm_alert"),
    )


SQL_SRM_CHECK = f"""
WITH c AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS a
  FROM customer
),
g AS (
  SELECT COALESCE(nk, -1) AS nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM c GROUP BY ROLLUP (nk)
)
SELECT nationkey, n_units, n_a, n_b,
       {_SRM_CHI2_EXPR.format(big="HUGEINT", div="//")} AS chi2_micro,
       {_SRM_ALERT_EXPR.format(big="HUGEINT")} AS srm_alert
FROM g
"""



def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesce overlapping per-user activity intervals — the
    gaps-and-islands staple behind uptime/coverage reports, ad-session
    stitching, and validity-range compaction (the interval twin of the
    point-event sessionization in ``stream_session``).

    Each event opens an interval [s, s + 600 + 60·len(event_type)]
    (a deterministic integer duration derived from row values, same
    rule-from-values discipline as every sampling operator);
    overlapping or touching intervals per user merge into one row.

    Plan: ONE user-keyed window shuffle serves both passes — an
    island starts where its start exceeds the running max end of all
    preceding intervals (rows-frame max), islands are numbered by a
    running sum of those breaks, and a map-side-combinable groupBy
    collapses each island. Per-task window state is O(1) (running max
    + counter, streamed); all arithmetic is integer seconds, so the
    oracle matches bitwise.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("s"),
        (
            F.unix_timestamp("ts") + 600 + 60 * F.length("event_type")
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = e.withColumn(
        "brk",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    isl = marked.withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("user_id", "island")
        .agg(
            F.min("s").alias("start_sec"),
            F.max("e").alias("end_sec"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("island").cast("long").alias("interval_id"),
            "start_sec",
            "end_sec",
            "n_events",
        )
    )


SQL_MERGE_INTERVALS = """
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 600 + 60 * length(event_type) AS e
  FROM events
),
m AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
              OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM iv
),
i AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM m
)
SELECT user_id, CAST(island AS BIGINT) AS interval_id,
       MIN(s) AS start_sec, MAX(e) AS end_sec,
       COUNT(*) AS n_events
FROM i GROUP BY user_id, island
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (prev_type → next_type) pair, the transition count and the
    fixed-point conditional probability P(next | prev) — the behavioral
    fingerprint behind session modeling, bot detection, and synthetic
    event generation.

    Plan shape: ONE per-user window shuffle (lag on the (ts, event_id)
    total order — user_id is the high-cardinality key, so the sort is
    fully parallel) feeds a map-side-combinable count whose key space
    is |event_types|² — BOUNDED at 25 rows here and constant in corpus
    size, so the per-source totals are a window sum over that bounded
    cell frame (the ``chi2_contingency`` marginal trick — no join, no
    recomputed subtree; the §45 classification: proportional to a
    constant). The probability goes through the midpoint-free
    fixed-point quotient (``functions/numeric.fp_ratio``) so both
    engines project the identical double.
    """
    from ..functions.numeric import fp_ratio

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    trans = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n_trans")
    )
    wp = Window.partitionBy("prev_type")
    m = trans.select(
        "prev_type",
        "next_type",
        "n_trans",
        F.sum("n_trans").over(wp).alias("n_from"),
    )
    return m.select(
        "prev_type",
        "next_type",
        "n_trans",
        "n_from",
        fp_ratio(F.col("n_trans") * 1_000_000, F.col("n_from"), 6).alias(
            "p_trans"
        ),
    )


SQL_MARKOV_TRANSITIONS = """
WITH p AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
t AS (
  SELECT prev_type, next_type, COUNT(*) AS n_trans
  FROM p WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
m AS (
  SELECT prev_type, next_type, n_trans,
         CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS BIGINT)
           AS n_from
  FROM t
)
SELECT prev_type, next_type, n_trans, n_from,
       CAST((2 * n_trans * 1000000 + n_from)
            // (2 * n_from) AS DOUBLE) / 1000000.0 AS p_trans
FROM m
"""


def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group distribution statistics of document length:
    discrete quartiles (q1/median/q3 at rank ceil(p·n) on the
    (n_chars, doc_id) total order — PERCENTILE_DISC semantics, so the
    output is always an actual data value, never an interpolated
    midpoint), IQR, and the median absolute deviation — the
    outlier-resistant spread profile quality filters threshold on
    (mean/stddev versions of the same gates are one weird crawl dump
    away from useless).

    Two rank-window passes (values, then absolute deviations around
    the broadcast per-group median — MAD is inherently two-pass) plus
    conditional-max aggregations; everything stays int64, so the
    oracle matches bitwise. Scale note: rank windows partition by
    ``lang`` (cardinality 5), so per-group sort is the cost — this is
    the EXACT/audit twin; at 100 TB the same report runs on
    ``percentile_approx`` sketches (``agg_approx_quantile`` is that
    graded lane) and this exact lane runs on per-shard samples.
    """
    d = load_table(spark, sf_dir, "documents")
    wl = Window.partitionBy("lang")
    wr = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count("*").over(wl).alias("n"),
    )
    base = ranked.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("n_chars"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("n_chars"))
        ).alias("median"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("n_chars"))
        ).alias("q3"),
    )
    devs = d.join(F.broadcast(base.select("lang", "median")), "lang").select(
        "lang",
        "doc_id",
        F.abs(F.col("n_chars") - F.col("median")).alias("dev"),
    )
    wd = Window.partitionBy("lang").orderBy("dev", "doc_id")
    mad = (
        devs.select(
            "lang",
            "dev",
            F.row_number().over(wd).cast("long").alias("rn"),
            F.count("*").over(wl).alias("n"),
        )
        .groupBy("lang")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("dev"))
            ).alias("mad")
        )
    )
    return base.join(F.broadcast(mad), "lang").select(
        "lang",
        "n_docs",
        "q1",
        "median",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
        "mad",
    )


SQL_ROBUST_STATS = """
WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
b AS (
  SELECT lang, MAX(n) AS n_docs,
         MAX(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS q1,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median,
         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars END) AS q3
  FROM r GROUP BY lang
),
dv AS (
  SELECT d.lang, abs(d.n_chars - b.median) AS dev, d.doc_id
  FROM documents d JOIN b USING (lang)
),
dr AS (
  SELECT lang, dev,
         row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM dv
),
m AS (
  SELECT lang, MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
  FROM dr GROUP BY lang
)
SELECT b.lang, b.n_docs, b.q1, b.median, b.q3,
       b.q3 - b.q1 AS iqr, m.mad
FROM b JOIN m USING (lang)
"""


SESSION_PATH_LEN = 3


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journey paths: each user's first {k} event types (in
    (ts, event_id) order) concatenated into a path string, counted
    across users, with the fixed-point share of users per path — the
    entry-funnel fingerprint product analytics asks for first
    (``funnel_conversion`` checks ONE prescribed ordering; this
    discovers the empirical orderings).

    One per-user window shuffle (rank on the total order, keep rank ≤
    {k}), a per-user slot aggregation (map-side combinable), then a
    count on the path key space — bounded by |event_types|^{k}, so
    everything after the first shuffle is constant-sized at any
    corpus scale. Users with fewer than {k} events keep a shorter
    path (``concat_ws`` skips the null slots on both engines — the
    cross-engine contract the test pins).
    """
    from ..functions.numeric import fp_ratio

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= SESSION_PATH_LEN)
    slots = r.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("rn") == i, F.col("event_type"))
            ).alias(f"s{i}")
            for i in range(1, SESSION_PATH_LEN + 1)
        ]
    )
    paths = slots.select(
        F.concat_ws(
            ">", *[F.col(f"s{i}") for i in range(1, SESSION_PATH_LEN + 1)]
        ).alias("path")
    )
    total = paths.agg(F.count("*").alias("n_total"))
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .crossJoin(F.broadcast(total))
        .select(
            "path",
            "n_users",
            fp_ratio(F.col("n_users") * 1_000_000, F.col("n_total"), 6).alias(
                "share"
            ),
        )
    )


q_session_paths.__doc__ = q_session_paths.__doc__.format(k=SESSION_PATH_LEN)


SQL_SESSION_PATHS = f"""
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
slots AS (
  SELECT user_id,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS s1,
         MAX(CASE WHEN rn = 2 THEN event_type END) AS s2,
         MAX(CASE WHEN rn = 3 THEN event_type END) AS s3
  FROM r WHERE rn <= {SESSION_PATH_LEN} GROUP BY user_id
),
p AS (SELECT concat_ws('>', s1, s2, s3) AS path FROM slots),
t AS (SELECT COUNT(*) AS n_total FROM p)
SELECT p.path, COUNT(*) AS n_users,
       CAST((2 * COUNT(*) * 1000000 + ANY_VALUE(t.n_total))
            // (2 * ANY_VALUE(t.n_total)) AS DOUBLE) / 1000000.0 AS share
FROM p CROSS JOIN t
GROUP BY p.path
"""


CHI2_HOUR_BUCKETS = 4  # 6-hour quadrants of the day


def q_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the event_type × time-of-day
    contingency table — the feature-association screen (is behavior
    time-dependent?) run before trusting a categorical feature split.

    Exactness discipline: observed/row/column/grand totals are exact
    int64 (marginals via window sums over the CELL frame, which is
    |types|×|buckets|-bounded — constant at any corpus scale, so the
    unpartitioned total window is a bounded-frame operation, not a
    single-partition data pass). r14: the per-cell statistic runs
    the capacity-bounded two-step integer sequence shared with
    ``chisq_independence`` (SCALE.md §105) — e_u = half-up(1e6·R·C,
    N), then dev²/e_u — exact to N ≈ 3·10¹² rows where the former
    IEEE-double sequence was exact only below 2^53. The two lanes
    are deliberate siblings: this one keeps the PER-CELL reliability
    table on the events pair (type × hour); ``chisq_independence``
    is the summary-row test with df and the critical-value verdict
    on the orders pair. One data-sized shuffle total (the cell
    count).
    """
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (F.hour("ts") / (24 // CHI2_HOUR_BUCKETS)).cast("long").alias(
            "hour_bucket"
        ),
    ).agg(F.count("*").alias("n_obs"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("hour_bucket")
    wa = Window.partitionBy()
    m = cells.select(
        "event_type",
        "hour_bucket",
        "n_obs",
        F.sum("n_obs").over(wr).alias("r_tot"),
        F.sum("n_obs").over(wc).alias("c_tot"),
        F.sum("n_obs").over(wa).alias("n_tot"),
    )
    # r14 (the chisq_independence / SCALE.md §105 rule applied back):
    # the per-cell term runs the capacity-bounded TWO-step integer
    # sequence — e_u = half-up(1e6·R·C, N) then dev²/e_u — instead of
    # the former fixed-order IEEE double sequence; exact to
    # N ≈ 3·10¹² rows (the double form was exact only to d < 2^53,
    # and the old fp_ratio numerator r·c·1e6 wrapped int64 at
    # N ≈ 3·10⁶). expected is e_u itself projected to double — the
    # identical integer the old fp_ratio produced.
    dec = "decimal(38,0)"
    e_u = F.expr(
        f"CAST((2 * CAST(1000000 AS {dec}) * CAST(r_tot AS {dec})"
        f" * CAST(c_tot AS {dec}) + n_tot)"
        f" div (2 * CAST(n_tot AS {dec})) AS BIGINT)"
    )
    m = m.withColumn("e_u", e_u).withColumn(
        "dev", F.expr("CAST(1000000 AS BIGINT) * n_obs - e_u")
    )
    term_micro = F.expr(
        f"CASE WHEN e_u = 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST((2 * (CAST(dev AS {dec}) * CAST(dev AS {dec}))"
        f" + e_u) div (2 * CAST(e_u AS {dec})) AS BIGINT) END"
    )
    out = m.select(
        "event_type",
        "hour_bucket",
        "n_obs",
        (F.col("e_u").cast("double") / 1e6).alias("expected"),
        (term_micro.cast("double") / 1e6).alias("chi2_term"),
        term_micro.alias("_tm"),
    )
    return out.select(
        "event_type",
        "hour_bucket",
        "n_obs",
        "expected",
        "chi2_term",
        # a NULL term (e_u = 0) must poison the total, not shrink it
        (
            F.when(
                F.count("_tm").over(Window.partitionBy())
                == F.count(F.lit(1)).over(Window.partitionBy()),
                F.sum("_tm").over(Window.partitionBy()),
            ).cast("double")
            / 1e6
        ).alias("chi2_total"),
    )


SQL_CHI2_CONTINGENCY = f"""
WITH cells AS (
  SELECT event_type,
         CAST(hour(ts) // {24 // CHI2_HOUR_BUCKETS} AS BIGINT) AS hour_bucket,
         COUNT(*) AS n_obs
  FROM events GROUP BY event_type, hour_bucket
),
m AS (
  SELECT event_type, hour_bucket, n_obs,
         CAST(SUM(n_obs) OVER (PARTITION BY event_type) AS BIGINT) AS r_tot,
         CAST(SUM(n_obs) OVER (PARTITION BY hour_bucket) AS BIGINT) AS c_tot,
         CAST(SUM(n_obs) OVER () AS BIGINT) AS n_tot
  FROM cells
),
t0 AS (
  SELECT *,
         CAST((2 * CAST(1000000 AS HUGEINT) * CAST(r_tot AS HUGEINT)
               * CAST(c_tot AS HUGEINT) + n_tot)
              // (2 * CAST(n_tot AS HUGEINT)) AS BIGINT) AS e_u
  FROM m
),
t1 AS (SELECT *, CAST(1000000 AS BIGINT) * n_obs - e_u AS dev FROM t0),
t AS (
  SELECT event_type, hour_bucket, n_obs,
         CAST(e_u AS DOUBLE) / 1000000.0 AS expected,
         CASE WHEN e_u = 0 THEN NULL
              ELSE CAST((2 * (CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT))
                   + e_u) // (2 * CAST(e_u AS HUGEINT)) AS BIGINT) END
           AS tm
  FROM t1
)
SELECT event_type, hour_bucket, n_obs, expected,
       CAST(tm AS DOUBLE) / 1000000.0 AS chi2_term,
       CAST(CAST(CASE WHEN COUNT(tm) OVER () = COUNT(*) OVER ()
            THEN SUM(tm) OVER () END AS BIGINT) AS DOUBLE) / 1000000.0
         AS chi2_total
FROM t
"""


# --------------------------------------------------------------------
# metric_cuped
# --------------------------------------------------------------------

# CUPED pre/experiment period split: orders strictly before this date
# are the pre-period covariate window, the rest are the experiment
# metric window (the synthetic orders fixture spans 1995-2001, so
# both windows are well populated at every SF).
CUPED_SPLIT_DATE = "1998-01-01"

# Signed half-AWAY-from-zero pinned division (num/den scaled by
# {scale}): the midpoint-free (2*scale*num + den) div (2*den) house
# form is half-UP and assumes num >= 0; CUPED's covariance numerator
# is signed, so split on sign, run the magnitude form, negate back
# (the VERDICT r13 #5 sign-split — also reused by eval_qwk's kappa).
# den must be > 0 (variance numerators are, by Cauchy-Schwarz).
SIGNED_DIV_EXPR = (
    "CASE WHEN {den} = 0 THEN CAST(NULL AS BIGINT)"
    " WHEN ({num}) < 0 THEN CAST(-((2 * CAST({scale} AS {big})"
    " * CAST(-({num}) AS {big}) + {den})"
    " {div} (2 * CAST({den} AS {big}))) AS BIGINT)"
    " ELSE CAST((2 * CAST({scale} AS {big}) * CAST({num} AS {big})"
    " + {den}) {div} (2 * CAST({den} AS {big})) AS BIGINT) END"
)


def _period_unit_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer exact cent sums for the experiment (y) and
    pre- (x) periods split at :data:`CUPED_SPLIT_DATE` — the shared
    unit frame of the period-structured lanes (metric_cuped,
    metric_did): one combinable groupBy(unit) over the orders scan,
    zero for a unit silent in a period (the all-units frame)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
        (F.col("o_orderdate") < F.lit(CUPED_SPLIT_DATE).cast("date")).alias(
            "pre"
        ),
    )
    return o.groupBy("unit").agg(
        F.sum(F.when(~F.col("pre"), F.col("cents")).otherwise(0)).alias("y"),
        F.sum(F.when(F.col("pre"), F.col("cents")).otherwise(0)).alias("x"),
    )


def q_metric_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced arm means (Deng, Xu, Kohavi & Walker,
    WSDM 2013) for the A/B experiment's spend metric — the
    experimentation-platform standard the matrix still lacked
    (VERDICT r13 #3): each customer's experiment-period spend Y is
    adjusted by their PRE-period spend X (a covariate fixed before
    assignment, so independent of treatment), Y' = Y - theta*(X - Xbar)
    with theta = cov(Y,X)/var(X) pooled over all units. Var(Y')
    = Var(Y)*(1 - rho^2): with pre/post spend strongly correlated the
    adjusted means separate treatment effects at a fraction of the
    raw sample size.

    Unit discipline: customers (the randomization unit, the
    perm_test_diff rule), md5-gated into the same A/B arms as
    ``ab_test_metrics``. A unit's Y (or X) is 0 when it has no orders
    in that window — the standard all-units frame; dropping
    pre-period-silent units would bias theta toward heavy buyers.

    Exactness: per-unit Y/X are exact int64 cent sums; the pooled
    sufficient statistics (n, sx, sy, sxy, sxx) are exact
    decimal/HUGEINT; theta's numerator n*sxy - sx*sy and denominator
    n*sxx - sx^2 are exact decimal combinations (documented bound:
    n*sxy stays inside decimal(38,0) to ~1e9 units at ~1e9 cents
    each); theta_micro is ONE signed half-away pinned division
    (:data:`SIGNED_DIV_EXPR`); arm means and the pooled Xbar are the
    house half-up micro divisions on non-negative sums; the
    adjustment term theta_micro*(mean_x_arm - xbar) is an exact
    decimal product scaled back by ONE more signed half-away
    division by 10^6. Both engines execute the identical integer
    sequence, so the oracle matches bitwise. var(X) = 0 (a
    covariate-free corpus) pins theta_micro = 0 and the adjusted
    mean degrades to the raw mean — the production no-op, pinned by
    pytest.

    Scale shape: ONE map-side-combinable groupBy(unit) over the
    orders scan, one all-units aggregate to a 1-row pooled frame,
    one groupBy(arm) to a 2-row frame, and a broadcast of the 1-row
    pooled stats onto it. Zero data-sized joins, zero windows, zero
    sorts — the suffstat shape every moments lane uses.
    """
    dec = "decimal(38,0)"
    units = _period_unit_sums(spark, sf_dir)
    from ..functions.numeric import exact_product_sum

    pooled = units.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        exact_product_sum(F.col("x"), F.col("y")).cast(dec).alias("sxy"),
        exact_product_sum(F.col("x"), F.col("x")).cast(dec).alias("sxx"),
    )
    cov_num = f"(CAST(n AS {dec}) * sxy - CAST(sx AS {dec}) * CAST(sy AS {dec}))"
    var_num = f"(CAST(n AS {dec}) * sxx - CAST(sx AS {dec}) * CAST(sx AS {dec}))"
    theta = SIGNED_DIV_EXPR.format(
        num=cov_num, den=var_num, scale=1000000, big=dec, div="div"
    )
    xbar = _PT_U_EXPR.format(n="n", s="sx", big=dec, div="div")
    pooled = pooled.select(
        F.coalesce(F.expr(theta), F.lit(0)).cast("long").alias("theta_micro"),
        F.expr(xbar).alias("xbar_micro"),
    )
    arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    arms = units.groupBy(
        F.when(arm, "A").otherwise("B").alias("arm")
    ).agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("y").alias("sy_arm"),
        F.sum("x").alias("sx_arm"),
    )
    my = _PT_U_EXPR.format(n="n_units", s="sy_arm", big=dec, div="div")
    mx = _PT_U_EXPR.format(n="n_units", s="sx_arm", big=dec, div="div")
    adj_term = SIGNED_DIV_EXPR.format(
        num=f"CAST(theta_micro AS {dec})"
        " * (CAST(mean_x_micro AS {big}) - CAST(xbar_micro AS {big}))".format(
            big=dec
        ),
        den="1000000",
        scale=1,
        big=dec,
        div="div",
    )
    return (
        arms.crossJoin(F.broadcast(pooled))
        .withColumn("mean_y_micro", F.expr(my))
        .withColumn("mean_x_micro", F.expr(mx))
        .withColumn(
            "adj_mean_micro",
            F.col("mean_y_micro") - F.expr(adj_term),
        )
        .select(
            "arm",
            "n_units",
            "mean_y_micro",
            "mean_x_micro",
            "theta_micro",
            "xbar_micro",
            "adj_mean_micro",
        )
    )


def _sql_metric_cuped() -> str:
    cov_num = "(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT))"
    var_num = "(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))"
    theta = SIGNED_DIV_EXPR.format(
        num=cov_num, den=var_num, scale=1000000, big="HUGEINT", div="//"
    )
    xbar = _PT_U_EXPR.format(n="n", s="sx", big="HUGEINT", div="//")
    my = _PT_U_EXPR.format(n="n_units", s="sy_arm", big="HUGEINT", div="//")
    mx = _PT_U_EXPR.format(n="n_units", s="sx_arm", big="HUGEINT", div="//")
    adj_term = SIGNED_DIV_EXPR.format(
        num="CAST(theta_micro AS HUGEINT)"
        " * (CAST(mean_x_micro AS HUGEINT) - CAST(xbar_micro AS HUGEINT))",
        den="1000000",
        scale=1,
        big="HUGEINT",
        div="//",
    )
    return f"""
WITH o AS (
  SELECT o_custkey AS unit,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderdate < DATE '{CUPED_SPLIT_DATE}' AS pre
  FROM orders
),
units AS (
  SELECT unit,
         CAST(SUM(CASE WHEN pre THEN 0 ELSE cents END) AS BIGINT) AS y,
         CAST(SUM(CASE WHEN pre THEN cents ELSE 0 END) AS BIGINT) AS x
  FROM o GROUP BY unit
),
pooled0 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM units
),
pooled AS (
  SELECT CAST(COALESCE({theta}, 0) AS BIGINT) AS theta_micro,
         {xbar} AS xbar_micro
  FROM pooled0
),
arms AS (
  SELECT CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
              < '{{bound}}' THEN 'A' ELSE 'B' END AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(y) AS BIGINT) AS sy_arm,
         CAST(SUM(x) AS BIGINT) AS sx_arm
  FROM units GROUP BY 1
),
m AS (
  SELECT arm, n_units, theta_micro, xbar_micro,
         {my} AS mean_y_micro,
         {mx} AS mean_x_micro
  FROM arms CROSS JOIN pooled
)
SELECT arm, n_units, mean_y_micro, mean_x_micro, theta_micro,
       xbar_micro,
       mean_y_micro - ({adj_term}) AS adj_mean_micro
FROM m
""".replace("{bound}", AB_SPLIT_BOUND)


SQL_METRIC_CUPED = _sql_metric_cuped()


# --------------------------------------------------------------------
# metric_did
# --------------------------------------------------------------------


def q_metric_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the A/B arms across the
    pre/experiment period split — the quasi-experimental readout the
    platform falls back to when randomization is suspect (a failed
    ``srm_check``, a staged rollout, a natural experiment): the
    naive post-period B−A difference is confounded by any standing
    level gap between the groups; DiD subtracts each arm's OWN
    pre-period mean first, so time-invariant unit-level confounding
    cancels and the estimate is the effect under the parallel-trends
    assumption. The lane reports the naive diff NEXT TO the DiD so
    the confounding itself is readable (their gap IS the pre-period
    imbalance).

    Shares :func:`_period_unit_sums` with ``metric_cuped`` — same
    units, same split, same exact cent sums — but answers a
    different question: CUPED uses the pre-period to shrink
    VARIANCE under valid randomization; DiD uses it to remove BIAS
    when randomization can't be trusted.

    Exactness: the four cell means (arm × period) are pinned
    half-up micro divisions on exact sums; both estimators are
    exact integer differences of those micros — zero further
    rounding. Scale shape: the shared combinable groupBy(unit),
    one 2-row arm aggregate, constant arithmetic. Zero joins,
    zero windows, zero broadcasts.
    """
    dec = "decimal(38,0)"
    units = _period_unit_sums(spark, sf_dir)
    arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    g = units.groupBy(
        F.when(arm, "A").otherwise("B").alias("arm")
    ).agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("y").alias("sy"),
        F.sum("x").alias("sx"),
    )
    my = _PT_U_EXPR.format(n="n_units", s="sy", big=dec, div="div")
    mx = _PT_U_EXPR.format(n="n_units", s="sx", big=dec, div="div")
    wide = (
        g.withColumn("mean_post_micro", F.expr(my))
        .withColumn("mean_pre_micro", F.expr(mx))
        .groupBy()
        .agg(
            F.max(F.when(F.col("arm") == "A", F.col("n_units"))).alias("n_a"),
            F.max(F.when(F.col("arm") == "B", F.col("n_units"))).alias("n_b"),
            F.max(
                F.when(F.col("arm") == "A", F.col("mean_pre_micro"))
            ).alias("pre_a_micro"),
            F.max(
                F.when(F.col("arm") == "A", F.col("mean_post_micro"))
            ).alias("post_a_micro"),
            F.max(
                F.when(F.col("arm") == "B", F.col("mean_pre_micro"))
            ).alias("pre_b_micro"),
            F.max(
                F.when(F.col("arm") == "B", F.col("mean_post_micro"))
            ).alias("post_b_micro"),
        )
    )
    return wide.select(
        "n_a",
        "n_b",
        "pre_a_micro",
        "post_a_micro",
        "pre_b_micro",
        "post_b_micro",
        (F.col("post_b_micro") - F.col("post_a_micro")).alias(
            "d_naive_micro"
        ),
        (
            (F.col("post_b_micro") - F.col("pre_b_micro"))
            - (F.col("post_a_micro") - F.col("pre_a_micro"))
        ).alias("did_micro"),
    )


def _sql_metric_did() -> str:
    my = _PT_U_EXPR.format(n="n_units", s="sy", big="HUGEINT", div="//")
    mx = _PT_U_EXPR.format(n="n_units", s="sx", big="HUGEINT", div="//")
    return f"""
WITH o AS (
  SELECT o_custkey AS unit,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderdate < DATE '{CUPED_SPLIT_DATE}' AS pre
  FROM orders
),
units AS (
  SELECT unit,
         CAST(SUM(CASE WHEN pre THEN 0 ELSE cents END) AS BIGINT) AS y,
         CAST(SUM(CASE WHEN pre THEN cents ELSE 0 END) AS BIGINT) AS x
  FROM o GROUP BY unit
),
g AS (
  SELECT CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
              < '{AB_SPLIT_BOUND}' THEN 'A' ELSE 'B' END AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x) AS BIGINT) AS sx
  FROM units GROUP BY 1
),
m AS (
  SELECT arm, n_units,
         {my} AS mean_post_micro,
         {mx} AS mean_pre_micro
  FROM g
),
wide AS (
  SELECT
    MAX(CASE WHEN arm = 'A' THEN n_units END) AS n_a,
    MAX(CASE WHEN arm = 'B' THEN n_units END) AS n_b,
    MAX(CASE WHEN arm = 'A' THEN mean_pre_micro END) AS pre_a_micro,
    MAX(CASE WHEN arm = 'A' THEN mean_post_micro END) AS post_a_micro,
    MAX(CASE WHEN arm = 'B' THEN mean_pre_micro END) AS pre_b_micro,
    MAX(CASE WHEN arm = 'B' THEN mean_post_micro END) AS post_b_micro
  FROM m
)
SELECT n_a, n_b, pre_a_micro, post_a_micro, pre_b_micro, post_b_micro,
       post_b_micro - post_a_micro AS d_naive_micro,
       (post_b_micro - pre_b_micro) - (post_a_micro - pre_a_micro)
         AS did_micro
FROM wide
"""


SQL_METRIC_DID = _sql_metric_did()


# --------------------------------------------------------------------
# fdr_bh
# --------------------------------------------------------------------

FDR_ALPHA_MICRO = 50_000  # alpha = 0.05 in micro units


def _segment_perm_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared per-segment permutation p-value frame both
    correction lanes read (fdr_bh and fdr_holm must correct the SAME
    p-values — a platform reporting both guarantees on different
    random draws would be incoherent): per order-priority segment,
    perm_test_diff's customer-level test of the arm mean-spend
    difference from the single f:-salted relabeling stream. Segments
    whose observed split empties an arm have no defined p and are
    excluded (engines also order NULLs differently, so the exclusion
    is a cross-engine correctness guard); m counts TESTABLE
    segments."""
    dec = "decimal(38,0)"
    p_lit = ", ".join(f"({p})" for p in range(1, PERM_B + 1))
    perms = spark.sql(f"SELECT * FROM VALUES {p_lit} AS t(perm)")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("unit"),
        F.col("o_orderpriority").alias("seg"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )

    def arm_sums(gb, arm):
        return gb.agg(
            F.sum(arm.cast("long")).alias("n_a"),
            F.sum((~arm).cast("long")).alias("n_b"),
            F.sum(F.when(arm, F.col("cents")).otherwise(0).cast(dec))
            .cast(dec)
            .alias("s_a"),
            F.sum(F.when(~arm, F.col("cents")).otherwise(0).cast(dec))
            .cast(dec)
            .alias("s_b"),
        )

    def with_d(df, out):
        u_a = _PT_U_EXPR.format(n="n_a", s="s_a", big=dec, div="div")
        u_b = _PT_U_EXPR.format(n="n_b", s="s_b", big=dec, div="div")
        return df.withColumn(out, F.expr(f"({u_b}) - ({u_a})"))

    obs_arm = (
        F.substring(F.md5(F.col("unit").cast("string")), 1, 4)
        < AB_SPLIT_BOUND
    )
    obs = with_d(arm_sums(o.groupBy("seg"), obs_arm), "d_obs_micro").select(
        "seg", "n_a", "n_b", "d_obs_micro"
    )
    rows = o.crossJoin(F.broadcast(perms))
    perm_arm = F.expr(
        "substring(md5(concat('f:', CAST(unit AS STRING), ':',"
        f" CAST(perm AS STRING))), 1, 4) < '{AB_SPLIT_BOUND}'"
    )
    g = with_d(
        arm_sums(rows.withColumn("ga", perm_arm).groupBy("seg", "perm"),
                 F.col("ga")),
        "d_micro",
    ).select("seg", "d_micro")
    pv = (
        g.join(F.broadcast(obs), "seg")
        .groupBy("seg", "n_a", "n_b", "d_obs_micro")
        .agg(
            F.count("d_micro").alias("n_perms"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("d_micro"))
                        >= F.abs(F.col("d_obs_micro")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias("n_ge"),
        )
        .withColumn("p_micro", F.expr(_PT_P_EXPR.format(div="div")))
    )
    return pv.where(F.col("p_micro").isNotNull())


def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over the per-segment
    permutation p-values — the multiple-comparisons gate every
    experiment readout needs once it slices by segment (VERDICT r13
    #6): five order-priority segments each run ``perm_test_diff``'s
    customer-level permutation test of the arm mean-spend difference
    (an independent ``f:``-salted relabeling stream, SHARED across
    segments — the real platform shape: many metrics read off the
    same experiment's randomness), and the five raw p-values are
    BH-adjusted, p_adj(i) = min over k ≥ i of p(k)·m/k capped at 1,
    rejected ⟺ p_adj ≤ alpha.

    Exactness: the per-segment machinery is perm_test_diff verbatim
    (exact counters, pinned half-up micro means, cross-engine md5
    labels, add-one p). The BH walk is pure integer arithmetic on
    the bounded m-row frame: each candidate p(k)·m/k is ONE pinned
    half-up integer division in micro units, the step-up "min over
    the tail" is a reversed running min window, and the verdict is
    an integer compare against alpha — no float ever appears, so
    the oracle matches bitwise. Ranks tie-break by segment name
    (deterministic).

    Scale shape: ONE ×B explode of the scan collapsing map-side to
    a |segments|·B counter frame, the |segments|-row observed
    broadcast, and windows only over the bounded m-row p frame.
    Zero data joins, zero data windows.
    """
    pv = _segment_perm_pvalues(spark, sf_dir)
    w_all = Window.partitionBy(F.lit(0))
    w_rank = w_all.orderBy("p_micro", "seg")
    w_tail = w_rank.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked = (
        pv.withColumn("m", F.count("*").over(w_all).cast("long"))
        .withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .withColumn(
            "cand",
            F.expr(
                "CAST((2 * CAST(p_micro AS BIGINT) * m + rnk)"
                " div (2 * rnk) AS BIGINT)"
            ),
        )
        .withColumn(
            "p_adj_micro",
            F.least(F.min("cand").over(w_tail), F.lit(1_000_000)),
        )
        .withColumn(
            "rejected", F.col("p_adj_micro") <= F.lit(FDR_ALPHA_MICRO)
        )
    )
    return ranked.select(
        "seg",
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_perms",
        "n_ge",
        "p_micro",
        "m",
        "rnk",
        "p_adj_micro",
        "rejected",
    )


def _sql_fdr_bh() -> str:
    p_lit = ", ".join(f"({p})" for p in range(1, PERM_B + 1))
    u_a = _PT_U_EXPR.format(n="n_a", s="s_a", big="HUGEINT", div="//")
    u_b = _PT_U_EXPR.format(n="n_b", s="s_b", big="HUGEINT", div="//")
    p_expr = _PT_P_EXPR.format(div="//")
    return f"""
WITH perms AS (SELECT * FROM (VALUES {p_lit}) AS t(perm)),
o AS (
  SELECT o_custkey AS unit, o_orderpriority AS seg,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
obs0 AS (
  SELECT seg,
         CAST(SUM(CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
              < '{AB_SPLIT_BOUND}' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
              < '{AB_SPLIT_BOUND}' THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
             < '{AB_SPLIT_BOUND}' THEN CAST(cents AS HUGEINT)
             ELSE 0 END) AS s_a,
         SUM(CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 4)
             < '{AB_SPLIT_BOUND}' THEN 0
             ELSE CAST(cents AS HUGEINT) END) AS s_b
  FROM o GROUP BY seg
),
obs AS (
  SELECT seg, n_a, n_b, ({u_b}) - ({u_a}) AS d_obs_micro FROM obs0
),
pg AS (
  SELECT seg, perm,
         substr(md5('f:' || CAST(unit AS VARCHAR) || ':'
                || CAST(perm AS VARCHAR)), 1, 4)
           < '{AB_SPLIT_BOUND}' AS ga, cents
  FROM o CROSS JOIN perms
),
g0 AS (
  SELECT seg, perm,
         CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         SUM(CASE WHEN ga THEN CAST(cents AS HUGEINT) ELSE 0 END) AS s_a,
         SUM(CASE WHEN ga THEN 0 ELSE CAST(cents AS HUGEINT) END) AS s_b
  FROM pg GROUP BY seg, perm
),
g AS (
  SELECT seg, ({u_b}) - ({u_a}) AS d_micro FROM g0
),
pv AS (
  SELECT o.seg, o.n_a, o.n_b, o.d_obs_micro,
         CAST(COUNT(d_micro) AS BIGINT) AS n_perms,
         CAST(COALESCE(SUM(CASE WHEN abs(d_micro)
              >= abs(d_obs_micro) THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_ge
  FROM g JOIN obs o ON g.seg = o.seg
  GROUP BY o.seg, o.n_a, o.n_b, o.d_obs_micro
),
pp AS (
  SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge,
         {p_expr} AS p_micro
  FROM pv
),
r AS (
  SELECT *,
         CAST(COUNT(*) OVER () AS BIGINT) AS m,
         CAST(row_number() OVER (ORDER BY p_micro, seg) AS BIGINT)
           AS rnk
  FROM pp WHERE p_micro IS NOT NULL
),
c AS (
  SELECT *,
         CAST((2 * CAST(p_micro AS BIGINT) * m + rnk)
              // (2 * rnk) AS BIGINT) AS cand
  FROM r
),
a AS (
  SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge, p_micro, m, rnk,
         LEAST(MIN(cand) OVER (ORDER BY rnk
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING),
               1000000) AS p_adj_micro
  FROM c
)
SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge, p_micro, m, rnk,
       p_adj_micro, p_adj_micro <= {FDR_ALPHA_MICRO} AS rejected
FROM a
"""


SQL_FDR_BH = _sql_fdr_bh()


# --------------------------------------------------------------------
# fdr_holm
# --------------------------------------------------------------------


def q_fdr_holm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-DOWN correction over the SAME per-segment
    permutation p-values as ``fdr_bh`` — the FWER guarantee next to
    BH's FDR: Holm controls the chance of even ONE false rejection
    (the bar a ship/no-ship gate wants), BH controls the expected
    false-discovery share (the bar a screening pass wants); real
    platforms report both, and they must read the SAME p-values
    (:func:`_segment_perm_pvalues` — a platform correcting two
    different random draws would be incoherent; the two lanes'
    correctness is exactly that they disagree only in the walk).

    The Holm walk is even simpler than BH's: candidates
    c_k = (m−k+1)·p_(k) are PURE integer products (no division at
    all), the adjusted p is the prefix running MAX capped at 1
    (step-down monotonicity), and rejection is an integer compare
    against alpha. Where BH walks the tail with a reversed running
    min, Holm walks the head with a forward running max — both on
    the bounded m-row frame.

    Scale shape: identical to fdr_bh's (the shared p frame is ONE
    ×B explode collapsing to |segments|·B counters); the walk adds
    only bounded-frame windows. Zero extra data passes.
    """
    pv = _segment_perm_pvalues(spark, sf_dir)
    w_all = Window.partitionBy(F.lit(0))
    w_rank = w_all.orderBy("p_micro", "seg")
    w_head = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        pv.withColumn("m", F.count("*").over(w_all).cast("long"))
        .withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .withColumn(
            "cand",
            ((F.col("m") - F.col("rnk") + 1) * F.col("p_micro")).cast(
                "long"
            ),
        )
        .withColumn(
            "p_adj_micro",
            F.least(F.max("cand").over(w_head), F.lit(1_000_000)),
        )
        .withColumn(
            "rejected", F.col("p_adj_micro") <= F.lit(FDR_ALPHA_MICRO)
        )
    )
    return ranked.select(
        "seg",
        "n_a",
        "n_b",
        "d_obs_micro",
        "n_perms",
        "n_ge",
        "p_micro",
        "m",
        "rnk",
        "p_adj_micro",
        "rejected",
    )


def _sql_fdr_holm() -> str:
    # identical p-value CTEs as SQL_FDR_BH (same f: stream), then the
    # step-down walk: integer candidates, forward running max, cap.
    base = SQL_FDR_BH[: SQL_FDR_BH.index("r AS (")]
    return f"""{base}r AS (
  SELECT *,
         CAST(COUNT(*) OVER () AS BIGINT) AS m,
         CAST(row_number() OVER (ORDER BY p_micro, seg) AS BIGINT)
           AS rnk
  FROM pp WHERE p_micro IS NOT NULL
),
c AS (
  SELECT *, CAST((m - rnk + 1) * p_micro AS BIGINT) AS cand FROM r
),
a AS (
  SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge, p_micro, m, rnk,
         LEAST(MAX(cand) OVER (ORDER BY rnk
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW),
               1000000) AS p_adj_micro
  FROM c
)
SELECT seg, n_a, n_b, d_obs_micro, n_perms, n_ge, p_micro, m, rnk,
       p_adj_micro, p_adj_micro <= {FDR_ALPHA_MICRO} AS rejected
FROM a
"""


SQL_FDR_HOLM = _sql_fdr_holm()


# --------------------------------------------------------------------
# chisq_independence
# --------------------------------------------------------------------

# Published chi-square critical values at alpha = 0.05, df 1..24, in
# micro units (Pearson 1900 table — fixed constants, no CDF needed).
_CHISQ_CRIT_MICRO = {
    1: 3_841_459, 2: 5_991_465, 3: 7_814_728, 4: 9_487_729,
    5: 11_070_498, 6: 12_591_587, 7: 14_067_140, 8: 15_507_313,
    9: 16_918_978, 10: 18_307_038, 11: 19_675_138, 12: 21_026_070,
    13: 22_362_032, 14: 23_684_791, 15: 24_995_790, 16: 26_296_228,
    17: 27_587_112, 18: 28_869_299, 19: 30_143_527, 20: 31_410_433,
    21: 32_670_573, 22: 33_924_438, 23: 35_172_462, 24: 36_415_029,
}


def _chisq_crit_expr() -> str:
    branches = " ".join(
        f"WHEN df = {k} THEN CAST({v} AS BIGINT)"
        for k, v in _CHISQ_CRIT_MICRO.items()
    )
    return f"CASE {branches} ELSE CAST(NULL AS BIGINT) END"


def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority
    and order status — the categorical-association workhorse next to
    the A/B family's two-sample tests: srm_check is this statistic's
    1-df special case against a DESIGNED margin; here both margins
    are estimated and the question is whether the two categorical
    columns co-vary at all (the screening query every feature-audit
    and leakage hunt runs). Sibling: ``chi2_contingency`` (r4) keeps
    the PER-CELL reliability table on the events pair and now shares
    this lane's two-step arithmetic; this lane is the summary test
    with df and the critical-value verdict.

    Exactness — the pinned TWO-step per-cell sequence (each step a
    midpoint-free half-up integer division, the anova_oneway
    micro-quantize-then-exact-sum rule): e_u = (1e6·R_i·C_j)/N is
    the expected count in micro units (error ≤ 0.5 micro), dev =
    1e6·O_ij − e_u is an exact signed integer, and the cell term
    (O−E)²/E in micro is dev²/e_u via the second half-up division.
    dev² ≤ 1e12·N² stays inside decimal(38,0)/HUGEINT to N ≈ 3·10¹²
    rows — the naive single-division form 1e6·(O·N − R·C)²/(N·R·C)
    overflows at N ≈ 5.6·10⁷ and was rejected for exactly the reason
    VERDICT r13 #5 retired the double forms: bounds must be
    capacity bounds, not row-count bounds. ZERO cells are real: the
    margins' cross join synthesizes absent (priority, status) pairs
    with O = 0 so their E > 0 terms count (dropping them understates
    chi²). df = (r−1)(c−1); the alpha = 0.05 verdict is an integer
    compare against the published critical value (pinned micro
    table, df ≤ 24 — NULL past it, documented).

    Scale shape: ONE map-side-combinable groupBy over the scan to
    the ≤ r·c cell frame; margins, the zero-cell cross join, and
    the final reduce all run on that bounded frame (windows over
    ≤ 15 rows). Zero data joins, zero data windows.
    """
    dec = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    )
    cells = o.groupBy("pr", "st").agg(F.count("*").alias("obs"))
    rows_m = cells.groupBy("pr").agg(F.sum("obs").alias("r_tot"))
    cols_m = cells.groupBy("st").agg(F.sum("obs").alias("c_tot"))
    full = (
        rows_m.crossJoin(cols_m)
        .join(cells, ["pr", "st"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
    )
    term = (
        f"CASE WHEN e_u = 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST((2 * (CAST(dev AS {dec}) * CAST(dev AS {dec}))"
        f" + e_u) div (2 * CAST(e_u AS {dec})) AS BIGINT) END"
    )
    terms = (
        full.withColumn(
            "n_total",
            F.sum("obs").over(
                Window.partitionBy(F.lit(0)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn(
            "e_u",
            F.expr(
                f"CAST((2 * CAST(1000000 AS {dec}) * CAST(r_tot AS {dec})"
                f" * CAST(c_tot AS {dec}) + n_total)"
                f" div (2 * CAST(n_total AS {dec})) AS BIGINT)"
            ),
        )
        .withColumn(
            "dev",
            F.expr("CAST(1000000 AS BIGINT) * obs - e_u"),
        )
        .withColumn("term_u", F.expr(term))
    )
    # SUM skips NULLs silently — a dropped undefined cell (e_u = 0,
    # reachable only when a singleton row+col pair meets N > ~2e12)
    # must POISON chi2, not shrink it (r14 adversarial review).
    out = terms.agg(
        F.max("n_total").cast("long").alias("n_total"),
        F.countDistinct("pr").cast("long").alias("n_rows"),
        F.countDistinct("st").cast("long").alias("n_cols"),
        F.when(
            F.count("term_u") == F.count(F.lit(1)),
            F.sum("term_u"),
        ).cast("long").alias("chi2_micro"),
    ).withColumn(
        "df",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).cast("long"),
    ).withColumn("crit_micro", F.expr(_chisq_crit_expr()))
    return out.select(
        "n_total",
        "n_rows",
        "n_cols",
        "df",
        "chi2_micro",
        "crit_micro",
        (F.col("chi2_micro") > F.col("crit_micro")).alias("dependent"),
    )


def _sql_chisq_independence() -> str:
    term = (
        "CASE WHEN e_u = 0 THEN NULL"
        " ELSE CAST((2 * (CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT))"
        " + e_u) // (2 * CAST(e_u AS HUGEINT)) AS BIGINT) END"
    )
    return f"""
WITH o AS (
  SELECT o_orderpriority AS pr, o_orderstatus AS st FROM orders
),
cells AS (
  SELECT pr, st, CAST(COUNT(*) AS BIGINT) AS obs
  FROM o GROUP BY pr, st
),
rm AS (SELECT pr, CAST(SUM(obs) AS BIGINT) AS r_tot FROM cells GROUP BY pr),
cm AS (SELECT st, CAST(SUM(obs) AS BIGINT) AS c_tot FROM cells GROUP BY st),
full_c AS (
  SELECT rm.pr, cm.st, rm.r_tot, cm.c_tot,
         COALESCE(cells.obs, 0) AS obs
  FROM rm CROSS JOIN cm
  LEFT JOIN cells ON cells.pr = rm.pr AND cells.st = cm.st
),
t0 AS (
  SELECT *, CAST(SUM(obs) OVER () AS BIGINT) AS n_total FROM full_c
),
t1 AS (
  SELECT *,
         CAST((2 * CAST(1000000 AS HUGEINT) * CAST(r_tot AS HUGEINT)
               * CAST(c_tot AS HUGEINT) + n_total)
              // (2 * CAST(n_total AS HUGEINT)) AS BIGINT) AS e_u
  FROM t0
),
t2 AS (
  SELECT *, CAST(1000000 AS BIGINT) * obs - e_u AS dev FROM t1
),
t3 AS (SELECT *, {term} AS term_u FROM t2),
agg AS (
  SELECT CAST(MAX(n_total) AS BIGINT) AS n_total,
         CAST(COUNT(DISTINCT pr) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT st) AS BIGINT) AS n_cols,
         CAST(CASE WHEN COUNT(term_u) = COUNT(*)
              THEN SUM(term_u) END AS BIGINT) AS chi2_micro
  FROM t3
),
d AS (
  SELECT *, CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS df FROM agg
)
SELECT n_total, n_rows, n_cols, df, chi2_micro,
       {_chisq_crit_expr()} AS crit_micro,
       chi2_micro > ({_chisq_crit_expr()}) AS dependent
FROM d
"""


SQL_CHISQ_INDEPENDENCE = _sql_chisq_independence()


# --------------------------------------------------------------------
# power_mde
# --------------------------------------------------------------------

# z_{1-alpha/2} + z_{power} for alpha = 0.05, power = 0.80:
# 1.959964 + 0.841621 = 2.801585, pinned in micro units (the fixed
# published normal quantiles — constants, no CDF evaluation).
POWER_Z_SUM_MICRO = 2_801_585


def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect (80% power, alpha = 0.05, two-sided)
    of an equal-split A/B test on mean order spend, per order status
    — the pre-experiment sizing readout every platform shows next to
    the CI lanes' post-hoc uncertainty: with the CURRENT n units per
    arm and the observed metric variance, the smallest true lift the
    test could reliably see is MDE = (z_{.975} + z_{.80})·sqrt(2s²/n).

    Exactness — the event_interarrival convention extended: the
    variance numerator V = n·Σy² − (Σy)² is exact decimal/HUGEINT;
    the finisher is a pinned IEEE sequence of TWO correctly-rounded
    sqrts on exact operands (sqrt(2V) and sqrt(n−1) — the
    single-radicand form sqrt(2V·(n−1)) was REJECTED because its
    radicand grows as n³·max² and leaves decimal(38,0) at n ≈ 3·10⁷;
    splitting the sqrt keeps every exact operand capacity-bounded,
    the SCALE.md §105 rule), one multiply by the pinned z constant,
    one division, one ROUND — bit-identical cross-engine. The n(n−1)
    double cast inside sd is exact to n ≈ 9·10⁷ and degrades to
    2⁻⁵³-relative past it (a readout-precision note, never a wrap).
    mde_rel (MDE as a share of the mean) is ONE more pinned half-up
    integer division of the two micro readouts.

    Scale shape: ONE map-side-combinable moments aggregate over the
    scan (|statuses| output rows). Zero joins, windows, broadcasts.
    """
    dec = "decimal(38,0)"
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    g = o.groupBy("status").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec).alias(
            "syy"
        ),
    )
    v = f"(CAST(n AS {dec}) * syy - CAST(sy AS {dec}) * CAST(sy AS {dec}))"
    mean = _PT_U_EXPR.format(n="n", s="sy", big=dec, div="div")
    sd = (
        "CASE WHEN n < 2 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST(ROUND((CAST(10000 AS DOUBLE)"
        f" * SQRT(CAST({v} AS DOUBLE)))"
        " / SQRT(CAST(n AS DOUBLE) * (n - 1)), 0) AS BIGINT) END"
    )
    mde = (
        "CASE WHEN n < 2 THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST(ROUND((CAST({POWER_Z_SUM_MICRO} AS DOUBLE)"
        f" * SQRT(CAST(2 AS DOUBLE) * CAST({v} AS DOUBLE)))"
        " / (CAST(n AS DOUBLE) * SQRT(CAST(n - 1 AS DOUBLE)))"
        " / CAST(100 AS DOUBLE), 0) AS BIGINT) END"
    )
    rel = (
        "CASE WHEN mean_micro IS NULL OR mean_micro = 0"
        " OR mde_abs_micro IS NULL THEN CAST(NULL AS BIGINT)"
        " ELSE CAST((2 * CAST(1000000 AS {big})"
        " * CAST(mde_abs_micro AS {big}) + mean_micro)"
        " {div} (2 * CAST(mean_micro AS {big})) AS BIGINT) END"
    )
    return (
        g.withColumn("mean_micro", F.expr(mean))
        .withColumn("sd_micro", F.expr(sd))
        .withColumn("mde_abs_micro", F.expr(mde))
        .withColumn(
            "mde_rel_micro", F.expr(rel.format(big=dec, div="div"))
        )
        .select(
            "status",
            "n",
            "mean_micro",
            "sd_micro",
            "mde_abs_micro",
            "mde_rel_micro",
        )
    )


def _sql_power_mde() -> str:
    v = "(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT))"
    mean = _PT_U_EXPR.format(n="n", s="sy", big="HUGEINT", div="//")
    rel = (
        "CASE WHEN mean_micro IS NULL OR mean_micro = 0"
        " OR mde_abs_micro IS NULL THEN NULL"
        " ELSE CAST((2 * CAST(1000000 AS HUGEINT)"
        " * CAST(mde_abs_micro AS HUGEINT) + mean_micro)"
        " // (2 * CAST(mean_micro AS HUGEINT)) AS BIGINT) END"
    )
    return f"""
WITH o AS (
  SELECT o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sy,
         SUM(CAST(cents AS HUGEINT) * cents) AS syy
  FROM o GROUP BY status
),
m AS (
  SELECT status, n,
         {mean} AS mean_micro,
         CASE WHEN n < 2 THEN NULL
              ELSE CAST(ROUND((CAST(10000 AS DOUBLE)
                   * SQRT(CAST({v} AS DOUBLE)))
                   / SQRT(CAST(n AS DOUBLE) * (n - 1)), 0) AS BIGINT)
              END AS sd_micro,
         CASE WHEN n < 2 THEN NULL
              ELSE CAST(ROUND((CAST({POWER_Z_SUM_MICRO} AS DOUBLE)
                   * SQRT(CAST(2 AS DOUBLE) * CAST({v} AS DOUBLE)))
                   / (CAST(n AS DOUBLE) * SQRT(CAST(n - 1 AS DOUBLE)))
                   / CAST(100 AS DOUBLE), 0) AS BIGINT)
              END AS mde_abs_micro
  FROM g
)
SELECT status, n, mean_micro, sd_micro, mde_abs_micro,
       {rel} AS mde_rel_micro
FROM m
"""


SQL_POWER_MDE = _sql_power_mde()


# --------------------------------------------------------------------
# sample_size_calc
# --------------------------------------------------------------------

# target relative lifts the sizing table reports, in micro units
SSC_TARGETS_MICRO = (50_000, 10_000)  # 5% and 1% of the mean


def q_sample_size_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Required per-arm sample size to detect a TARGET relative lift
    (5% and 1% of the group mean) at 80% power / alpha 0.05 — the
    inverse readout of ``power_mde`` and the question a launch
    review actually asks ("how long must this run?"): since
    MDE ∝ 1/sqrt(n), the n detecting relative lift t is
    n_req = ceil(n · (mde_rel/t)²).

    Exactness: composes power_mde's frame — n_req =
    ceil(n · mde_rel_micro² / t_micro²) is pure integer arithmetic
    on the already-micro-quantized relative MDE (a documented
    second-level compose, the anova rule; intermediates ≤ n·10¹²
    fit decimal(38,0) to n ≈ 10²⁶). A direct closed form
    800·z²·V·n/((n−1)·Σy²) was REJECTED: its numerator compounds as
    n³·max² and dies at n ≈ 200 in decimal — the §105 capacity rule
    decides the op order again. Zero-variance groups need n_req = 0
    (any n detects any effect on a constant metric — pinned).

    Scale shape: identical to power_mde (one combinable moments
    aggregate, |statuses| rows); the sizing columns are constant
    arithmetic on that frame.
    """
    dec = "decimal(38,0)"
    base = q_power_mde(spark, sf_dir)
    out = base.select(
        "status",
        "n",
        "mean_micro",
        "sd_micro",
        "mde_rel_micro",
    )
    for t in SSC_TARGETS_MICRO:
        pct = t // 10_000
        # ceil on NON-NEGATIVE operands via (x + t² − 1) div t² —
        # the negate-floor-negate trick is a trap here: Spark `div`
        # and DuckDB `//` both TRUNCATE toward zero on negatives
        # (they only agree with floor on non-negative operands, the
        # domain every house division sticks to).
        out = out.withColumn(
            f"n_arm_for_{pct}pct",
            F.expr(
                "CASE WHEN mde_rel_micro IS NULL THEN CAST(NULL AS BIGINT)"
                " WHEN mde_rel_micro = 0 THEN CAST(0 AS BIGINT)"
                f" ELSE CAST((CAST(n AS {dec})"
                f" * CAST(mde_rel_micro AS {dec})"
                f" * CAST(mde_rel_micro AS {dec})"
                f" + {t * t - 1}) div CAST({t * t} AS {dec})"
                " AS BIGINT) END"
            ),
        )
    return out


def _sql_sample_size_calc() -> str:
    cols = []
    for t in SSC_TARGETS_MICRO:
        pct = t // 10_000
        cols.append(
            "CASE WHEN mde_rel_micro IS NULL THEN NULL"
            " WHEN mde_rel_micro = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((CAST(n AS HUGEINT)"
            " * CAST(mde_rel_micro AS HUGEINT)"
            " * CAST(mde_rel_micro AS HUGEINT)"
            f" + {t * t - 1}) // CAST({t * t} AS HUGEINT)"
            " AS BIGINT) END"
            f" AS n_arm_for_{pct}pct"
        )
    cols_sql = ",\n       ".join(cols)
    return f"""
WITH base AS ({SQL_POWER_MDE})
SELECT status, n, mean_micro, sd_micro, mde_rel_micro,
       {cols_sql}
FROM base
"""


SQL_SAMPLE_SIZE_CALC = _sql_sample_size_calc()


QUERIES: list[Query] = [
    Query("time_weighted_avg", q_time_weighted_avg, SQL_TIME_WEIGHTED_AVG),
    Query("funnel_conversion", q_funnel_conversion, SQL_FUNNEL_CONVERSION),
    Query("retention_cohort", q_retention_cohort, SQL_RETENTION_COHORT),
    Query("recursive_cte", q_recursive_hierarchy, SQL_RECURSIVE_HIERARCHY),
    Query("data_expectations", q_data_expectations, SQL_DATA_EXPECTATIONS),
    Query("fuzzy_match_strings", q_fuzzy_match_strings, SQL_FUZZY_MATCH_STRINGS),
    Query("chunk_text", q_chunk_text, SQL_CHUNK_TEXT, bench=True),
    Query("corpus_report", q_corpus_report, SQL_CORPUS_REPORT),
    Query("value_histogram", q_value_histogram, SQL_VALUE_HISTOGRAM),
    Query("skyline_frontier", q_skyline_frontier, SQL_SKYLINE_FRONTIER),
    Query("basket_pairs", q_basket_pairs, SQL_BASKET_PAIRS),
    Query("corr_pearson", q_corr_pearson, SQL_CORR_PEARSON),
    Query("period_growth", q_period_growth, SQL_PERIOD_GROWTH),
    Query("ab_test_metrics", q_ab_test_metrics, SQL_AB_TEST_METRICS),
    Query("perm_test_diff", q_perm_test_diff, SQL_PERM_TEST_DIFF),
    Query("bootstrap_ci_diff", q_bootstrap_ci_diff, SQL_BOOTSTRAP_CI_DIFF),
    Query("perm_test_ratio", q_perm_test_ratio, SQL_PERM_TEST_RATIO),
    Query("srm_check", q_srm_check, SQL_SRM_CHECK),
    Query("merge_intervals", q_merge_intervals, SQL_MERGE_INTERVALS),
    Query("markov_transitions", q_markov_transitions, SQL_MARKOV_TRANSITIONS, bench=True),
    Query("robust_stats", q_robust_stats, SQL_ROBUST_STATS),
    Query("session_paths", q_session_paths, SQL_SESSION_PATHS),
    Query("chi2_contingency", q_chi2_contingency, SQL_CHI2_CONTINGENCY),
    Query("metric_cuped", q_metric_cuped, SQL_METRIC_CUPED),
    Query("metric_did", q_metric_did, SQL_METRIC_DID),
    Query("fdr_bh", q_fdr_bh, SQL_FDR_BH),
    Query("fdr_holm", q_fdr_holm, SQL_FDR_HOLM),
    Query("chisq_independence", q_chisq_independence, SQL_CHISQ_INDEPENDENCE),
    Query("power_mde", q_power_mde, SQL_POWER_MDE),
    Query("sample_size_calc", q_sample_size_calc, SQL_SAMPLE_SIZE_CALC),
]
