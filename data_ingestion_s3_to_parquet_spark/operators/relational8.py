"""Four more operator families a complete analytics + training-data
engine needs, each oracle-gated.

- ``unpivot_stack`` — wide→long reshaping (the inverse of ``pivot``):
  melt a set of measure columns into (measure, value) rows. Feature
  matrices, metric tables, and sensor panels all pass through this
  shape on the way into long-format aggregation.
- ``window_range_interval`` — time-based RANGE window frames (rolling
  one-hour sum/count per user). Every other window in the repo is
  ROWS- or partition-framed; RANGE-by-value frames are the shape
  behind rate limiting, rolling features, and trailing-window metrics.
- ``sample_span_mask`` — T5-style span corruption: deterministically
  mask ~15% of tokens, merge adjacent masked tokens into numbered
  sentinel spans, and emit (input_text, target_text) pairs — the
  denoising-objective sampler for encoder-decoder pretraining.
- ``anomaly_zscore`` — per-group z-score outlier flagging over the
  event stream: the data-cleaning pass that drops metric glitches
  before they reach a training set or a dashboard.
- ``knn_graph`` — exact top-k nearest-neighbor graph over the
  embedding table (k = 3, cosine, within label blocks): the building
  block for graph-based dedup, cluster discovery, and retrieval-index
  construction. The exact block-join lane is the oracle twin of the
  LSH-candidate path (same contract as ``sim_join`` vs
  ``sim_join_lsh``).
- ``lm_unigram_score`` — corpus-trained unigram language-model
  scoring: per-document average negative log2 likelihood under the
  corpus's own top-V unigram distribution (add-half smoothing for
  OOV), the classic cheap fluency/quality signal between heuristic
  stats and a real LM.

Reference: /root/reference/src/main.rs has none of these (its surface
is the 9 §2A ingestion stages); these extend SURVEY.md §2B per the
BASELINE north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine
from ..plans.spec import Query
from ..sources.catalog import load_table, spread

# ---------------------------------------------------------------------------
# unpivot_stack


UNPIVOT_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the lineitem measure columns.

    ``DataFrame.unpivot`` compiles to Catalyst's ``Expand`` node — each
    input row is emitted k times with a constant measure label, entirely
    inside whole-stage codegen: no shuffle, no UDF, output rows = k ×
    input rows with perfect pipelining. At 100 TB the melt is
    scan-bound, and because ``Expand`` sits above the parquet scan the
    untouched 11 columns are pruned away (ReadSchema keeps only ids +
    measures). The l_linenumber = 1 filter is pushed into the scan.
    """
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=list(UNPIVOT_MEASURES),
        variableColumnName="measure",
        valueColumnName="value",
    )


# UNION ALL mirror: dialect-portable and exactly the same multiset
# (values pass through unchanged from parquet, so doubles match bitwise).
SQL_UNPIVOT_STACK = "\nUNION ALL\n".join(
    f"SELECT l_orderkey, l_linenumber, '{m}' AS measure, {m} AS value\n"
    f"FROM lineitem WHERE l_linenumber = 1"
    for m in UNPIVOT_MEASURES
)


# ---------------------------------------------------------------------------
# window_range_interval


def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour RANGE frame per user over the event stream:
    rolling event count and rolling sum(value).

    The frame is defined by the ORDER-BY *value* (epoch seconds), not
    row offsets — rows whose timestamps fall within [t-3600, t] are
    aggregated regardless of how many there are. ``WindowExec``
    maintains a sliding frame buffer per partition: each row enters and
    leaves the buffer exactly once, so the pass is O(rows) with state
    bounded by the densest hour, not the partition. One shuffle on
    user_id (hash-partitioned, ~|users| keys, no skew) and one
    in-partition sort — the minimum any time-windowed feature needs.

    Rows sharing an epoch second are RANGE-frame peers in both engines,
    and the rolling sum uses the exact decimal accumulator
    (functions/numeric.py), so results are bitwise cross-engine.
    """
    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("epoch_s", F.unix_timestamp("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "epoch_s",
        "value",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum(F.col("value").cast("decimal(18,8)")).over(w), 2)
        .cast("double")
        .alias("sum_1h"),
    )


SQL_WINDOW_RANGE_INTERVAL = """
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       value,
       COUNT(*) OVER w AS n_1h,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))) OVER w, 2) AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# sample_span_mask

# Mask a token when the first md5 byte of (doc_id:pos) is < 0x28 —
# 40/256 ≈ 15.6%, the T5 corruption rate. Hex-prefix thresholding is
# the repo's standard engine-portable hash gate (same construction as
# sample_split's split bound: md5 is standardized, string compare on
# fixed-width hex is a byte compare).
SPAN_MASK_BOUND = "28"


def q_sample_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption sampler: mask ≈15% of tokens chosen by
    a per-(doc, position) hash gate, merge runs of masked tokens into
    one numbered sentinel each, and emit the (input_text, target_text)
    pair an encoder-decoder denoising objective trains on::

        text   = "a b c d e f"   masked = {c, d, f}
        input  = "a b <extra_id_0> e <extra_id_1>"
        target = "<extra_id_0> c d <extra_id_1> f"

    Determinism: the mask is a pure function of (doc_id, pos) — no RNG,
    so the sample is identical across engines, partitionings, cluster
    sizes, and reruns (the same invariance contract as sample_split).

    Scale shape: posexplode multiplies rows by tokens-per-doc, but the
    three window passes (lag → run-start flag → running span counter)
    and the ordered re-aggregation all share ONE partitioning by
    doc_id, so the whole pipeline is a single shuffle of the token
    stream followed by map-side work; per-task window state is O(1)
    (lag 1 + running sum). Token rows carry (int, int, short string) —
    the shuffled bytes ≈ the corpus itself, the floor for any
    token-level transform.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),  # 1-based, matching the oracle
        "tok",
    )
    gate = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("pos").cast("string"),
            )
        ),
        1,
        2,
    )
    tok = tok.withColumn("m", gate < SPAN_MASK_BOUND)

    wo = Window.partitionBy("doc_id").orderBy("pos")
    tok = tok.withColumn(
        "span_start", F.col("m") & ~F.lag("m", 1, False).over(wo)
    ).withColumn(
        "span_id",
        F.sum(F.col("span_start").cast("int")).over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("span_id") - 1).cast("string"), F.lit(">")
    )
    piece_in = F.when(~F.col("m"), F.col("tok")).when(
        F.col("span_start"), sentinel
    )  # masked non-start tokens -> NULL (dropped)
    piece_tgt = F.when(
        F.col("span_start"), F.concat(sentinel, F.lit(" "), F.col("tok"))
    ).when(F.col("m"), F.col("tok"))

    def _joined(piece, alias):
        # collect_list skips the NULL structs when() leaves behind;
        # array_sort orders struct arrays by their first field (pos),
        # giving an ordered, engine-stable concatenation.
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(piece.isNotNull(), F.struct("pos", piece.alias("p")))
                    )
                ),
                lambda x: x["p"],
            ),
            " ",
        ).alias(alias)

    return tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("m").cast("int")).alias("n_masked"),
        F.max("span_id").alias("n_spans"),
        _joined(piece_in, "input_text"),
        _joined(piece_tgt, "target_text"),
    )


SQL_SAMPLE_SPAN_MASK = f"""
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
tok AS (
  SELECT doc_id,
         unnest([{{'pos': i, 'tok': t[i]}}
                 for i in generate_series(1, len(t))],
                recursive := true)
  FROM tk
),
gated AS (
  SELECT doc_id, pos, tok,
         substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)),
                1, 2) < '{SPAN_MASK_BOUND}' AS m
  FROM tok
),
runs AS (
  SELECT *,
         m AND NOT lag(m, 1, false)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS span_start
  FROM gated
),
spans AS (
  SELECT *,
         SUM(CASE WHEN span_start THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS span_id
  FROM runs
),
pieces AS (
  SELECT doc_id, pos, m, span_id,
         '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>' AS sentinel,
         CASE WHEN NOT m THEN tok
              WHEN span_start THEN
                   '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>'
         END AS piece_in,
         CASE WHEN span_start THEN
                   '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>' || ' ' || tok
              WHEN m THEN tok
         END AS piece_tgt
  FROM spans
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(MAX(span_id) AS BIGINT) AS n_spans,
       COALESCE(string_agg(piece_in, ' ' ORDER BY pos)
                FILTER (WHERE piece_in IS NOT NULL), '') AS input_text,
       COALESCE(string_agg(piece_tgt, ' ' ORDER BY pos)
                FILTER (WHERE piece_tgt IS NOT NULL), '') AS target_text
FROM pieces
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# anomaly_zscore


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier flagging: the glitch filter a
    metrics pipeline runs before events feed features or dashboards.

    Moments come from EXACT INTEGER sums: each value quantizes to
    int64 cents through the decimal cast (and its square to cents²),
    the sums are exact, and every double that follows (mean, variance,
    sqrt, z) is IEEE arithmetic on identical integer inputs — so both
    engines compute bit-identical doubles with no decimal→double cast
    anywhere (the 1-ulp divergence class of SCALE.md §34's mechanism
    note; the original decimal-sum-cast-to-double formulation carried
    it). Plan: one map-side-combinable groupBy over the scan
    (|event_type| ≈ 6 rows out), then a broadcast join back — the raw
    event stream is scanned twice-logically but AQE broadcasts the
    6-row stats side, so no wide shuffle ever touches the events.
    """
    e = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,8)") * 100).cast("long")
    e = e.withColumn("_c", cents)
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("_c").alias("s1c"),
        F.sum(F.col("_c") * F.col("_c")).alias("s2c"),
    )
    mean = F.col("s1c").cast("double") / (F.col("n") * 100.0)
    ex2 = F.col("s2c").cast("double") / (F.col("n") * 10_000.0)
    stats = stats.select(
        "event_type",
        mean.alias("mean"),
        F.sqrt(ex2 - mean * mean).alias("std"),
    )
    z = F.round(
        (F.col("value") - F.col("mean")) / F.nullif(F.col("std"), F.lit(0.0)), 6
    )
    return e.drop("_c").join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round("mean", 6).alias("mean_v"),
        F.round("std", 6).alias("std_v"),
        z.alias("z"),
        (F.abs(z) > 3.0).alias("is_anomaly"),
    )


SQL_ANOMALY_ZSCORE = """
WITH c AS (
  SELECT *, CAST(CAST(value AS DECIMAL(18,8)) * 100 AS BIGINT) AS _c
  FROM events
),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(_c) AS s1c,
         SUM(_c * _c) AS s2c
  FROM c GROUP BY event_type
),
m AS (
  SELECT event_type,
         CAST(s1c AS DOUBLE) / (n * 100.0) AS mean,
         sqrt(CAST(s2c AS DOUBLE) / (n * 10000.0)
              - (CAST(s1c AS DOUBLE) / (n * 100.0))
                * (CAST(s1c AS DOUBLE) / (n * 100.0))) AS std
  FROM stats
)
SELECT event_id, e.event_type, value,
       ROUND(mean, 6) AS mean_v,
       ROUND(std, 6)  AS std_v,
       ROUND((value - mean) / nullif(std, 0), 6) AS z,
       (abs(ROUND((value - mean) / nullif(std, 0), 6)) > 3.0) AS is_anomaly
FROM events e JOIN m USING (event_type)
"""


# ---------------------------------------------------------------------------
# knn_graph

KNN_K = 3


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor graph (k = 3, cosine) within label
    blocks: one directed edge per (vector, rank ≤ k neighbor).

    Plan: block equi-join → cosine → per-source top-k via row_number,
    which Catalyst executes as WindowGroupLimit — the top-k is pushed
    below the full sort, so per-partition state is k rows, not the
    block. Blocking on `label` keeps this oracle-checkable; it is the
    quadratic-within-block twin of the LSH candidate generator
    (``sim_join_lsh``), which feeds the same ranking window at scale —
    candidates ∝ true neighbors instead of |block|².

    Ties on cosine break by neighbor id in BOTH engines, so the graph
    is engine-deterministic (the driver hash needs exact row parity).
    A size guard refuses oversized inputs and points at the LSH lane
    (:mod:`.guards`, VERDICT r4 #5).
    """
    from .guards import guard_fixture_quadratic

    guard_fixture_quadratic(sf_dir, "embeddings", "knn_graph", "knn_graph_lsh")
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("ea"), "label"
    )
    b = emb.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("eb"), "label"
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), "dst")
    return (
        a.join(b, "label")
        .where(F.col("src") != F.col("dst"))
        .withColumn("cos_sim", cosine(F.col("ea"), F.col("eb")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("label", "src", "dst", "rank", "cos_sim")
    )


SQL_KNN_GRAPH = f"""
WITH pairs AS (
  SELECT a.label, a.vec_id AS src, b.vec_id AS dst,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS cos_sim
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY src
                               ORDER BY cos_sim DESC, dst) AS rank
  FROM pairs
)
SELECT label, src, dst, rank, cos_sim FROM ranked WHERE rank <= {KNN_K}
"""


# ---------------------------------------------------------------------------
# lm_unigram_score

LM_VOCAB_SIZE = 1024


def q_lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model fluency scoring, trained on the corpus
    itself: per document, the mean negative log2 likelihood of its
    tokens under the corpus's top-V unigram distribution (V = 1024 by
    count, ties broken by word; out-of-vocabulary tokens get an
    add-half pseudo-count). Low avg_nll ⇒ stereotypical text, high ⇒
    rare/garbled — the cheap middle ground between heuristic quality
    stats and a real LM pass.

    Scale shape: token counts are one map-side-combinable groupBy; the
    top-V cut is a count-ordered limit over the (already tiny)
    distinct-word frame; scoring is a broadcast join of the fixed-size
    vocab onto the token stream (the token shuffle by doc_id for the
    final aggregation is the floor for any per-doc score). Per-token
    nll is quantized to integer MICRO-nll (round(nll·1e6), where only
    a ~1e-9-per-word ulp coincidence could round apart), summed
    exactly in int64, and the per-doc mean divides half-up in integer
    arithmetic — the fixed-point rule (SCALE.md §34): a double mean of
    a quantized sum lands exactly on rounding midpoints whenever
    n_words divides the sum suitably, and the sf0.1 sweep caught
    precisely that (one doc flipping 4.910475/4.910476 across
    engines).
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    cnt = words.groupBy("w").agg(F.count("*").alias("c"))
    total = cnt.agg(F.sum("c").alias("n_total"))
    vocab = cnt.orderBy(F.desc("c"), "w").limit(LM_VOCAB_SIZE)
    scored = (
        words.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.col("c").isNull().alias("oov"),
            F.round(
                -F.log2(
                    F.coalesce(F.col("c").cast("double"), F.lit(0.5))
                    / F.col("n_total")
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("micro_nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.col("oov").cast("int")).alias("n_oov"),
            F.sum("micro_nll").alias("s"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_oov",
            # half-up integer mean, then one exact int->double projection
            (
                F.expr("(2 * s + n_words) div (2 * n_words)").cast("double")
                / F.lit(1_000_000.0)
            ).alias("avg_nll"),
        )
    )


SQL_LM_UNIGRAM_SCORE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
cnt AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
tot AS (SELECT SUM(c) AS n_total FROM cnt),
vocab AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT {LM_VOCAB_SIZE}),
scored AS (
  SELECT w.doc_id,
         v.c IS NULL AS oov,
         CAST(ROUND(-log2(COALESCE(CAST(v.c AS DOUBLE), 0.5) / t.n_total)
                    * 1000000, 0) AS BIGINT) AS micro_nll
  FROM w LEFT JOIN vocab v USING (w) CROSS JOIN tot t
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_words,
         CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         SUM(micro_nll) AS s
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_words, n_oov,
       CAST((2 * s + n_words) // (2 * n_words) AS DOUBLE) / 1000000.0
         AS avg_nll
FROM agg
"""


# ---------------------------------------------------------------------------
# profile_table

# (column, kind) in profile order; kind picks the min/max projection
_PROFILE_COLS = (
    ("event_id", "num"),
    ("ts", "time"),
    ("user_id", "num"),
    ("event_type", "str"),
    ("value", "num"),
    ("props", "str"),
)


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of the events table: null count, exact
    distinct count, and a typed min/max (numerics as doubles,
    timestamps as epoch seconds, strings skipped) — the first pass of
    every data-quality / ingestion-validation pipeline, in long format
    (one row per column) so downstream checks are data, not code.

    Plan: ONE aggregation over one scan — Catalyst rewrites the
    multi-distinct aggregate with Expand (one extra map-side row per
    distinct column), so the cost is a single shuffle regardless of
    column count. Scale note: COUNT(DISTINCT) is exact here because
    the oracle demands it; at 100 TB the same profile runs with the
    mergeable HLL sketches (``agg_hll_sketch``) at a fraction of the
    shuffle, trading exactness for a documented ±2% bound.
    """
    e = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("_n")]
    for c, kind in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"{c}__nn"))
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"{c}__mn"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__mx"))
        elif kind == "time":
            aggs.append(
                F.unix_timestamp(F.min(c)).cast("double").alias(f"{c}__mn")
            )
            aggs.append(
                F.unix_timestamp(F.max(c)).cast("double").alias(f"{c}__mx")
            )
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mn"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mx"))
    wide = e.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                (F.col("_n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_value"),
                F.col(f"{c}__mx").alias("max_value"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


def _sql_profile_col(c: str, kind: str) -> str:
    if kind == "num":
        mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
    elif kind == "time":
        mn = f"CAST(floor(epoch(MIN({c}))) AS DOUBLE)"
        mx = f"CAST(floor(epoch(MAX({c}))) AS DOUBLE)"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
    return (
        f"SELECT '{c}' AS column, COUNT(*) - COUNT({c}) AS n_nulls, "
        f"COUNT(DISTINCT {c}) AS n_distinct, {mn} AS min_value, "
        f"{mx} AS max_value FROM events"
    )


SQL_PROFILE_TABLE = "\nUNION ALL\n".join(
    _sql_profile_col(c, kind) for c, kind in _PROFILE_COLS
)


# ---------------------------------------------------------------------------
# agg_skew_salted

AGG_SALTS = 8


def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation, explicitly two-phase: per event_type
    (6 values — EVERY key is hot at 100 TB) count, exact decimal sum,
    and exact distinct users, with identical semantics to the plain
    groupBy the oracle runs.

    Two patterns in one plan, for the two aggregate classes:

    - ALGEBRAIC (count/sum): pre-aggregate by (key, salt) — salt =
      hash % 8 — then merge by key. Spark's map-side partial
      aggregation already does this implicitly for algebraic
      aggregates; the explicit form is the template for when it
      can't (UDAFs, collect-based intermediates), and costs one extra
      tiny shuffle of 6×8 rows.
    - HOLISTIC (exact distinct): dedup on the FULL (key, user) pair
      first — the shuffle key carries the user, so a hot event_type
      spreads over every partition instead of pinning one task — then
      a map-combinable count per key. This is the scalable exact-
      distinct shape; the HLL lane (``agg_hll_sketch``) is its
      approximate sibling.
    """
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn(
        "_salt", (F.xxhash64("event_id") % AGG_SALTS + AGG_SALTS) % AGG_SALTS
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("value").cast("decimal(18,8)")).alias("ps"),
    )
    merged = partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("ps"), 2).cast("double").alias("sum_value"),
    )
    users = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )
    return merged.join(users, "event_type").select(
        "event_type", "n_events", "sum_value", "n_users"
    )


SQL_AGG_SKEW_SALTED = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))), 2) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


QUERIES: list[Query] = [
    Query("unpivot_stack", q_unpivot_stack, SQL_UNPIVOT_STACK),
    Query("window_range_interval", q_window_range_interval, SQL_WINDOW_RANGE_INTERVAL),
    Query("sample_span_mask", q_sample_span_mask, SQL_SAMPLE_SPAN_MASK, bench=True),
    Query("anomaly_zscore", q_anomaly_zscore, SQL_ANOMALY_ZSCORE),
    Query("knn_graph", q_knn_graph, SQL_KNN_GRAPH),
    Query("lm_unigram_score", q_lm_unigram_score, SQL_LM_UNIGRAM_SCORE, bench=True),
    Query("profile_table", q_profile_table, SQL_PROFILE_TABLE),
    Query("agg_skew_salted", q_agg_skew_salted, SQL_AGG_SKEW_SALTED),
]
