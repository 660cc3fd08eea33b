"""Seven patterns a 100 TB pipeline leans on, as first-class
operators.

- ``join_bloom_prefilter`` — scan-side semi-join pruning with a
  hand-rolled distributed Bloom filter (Spark's internal
  ``bloom_filter_agg`` is not SQL-registered in 4.1, and the built-in
  runtime bloom only kicks in for selective shuffle joins it can see
  through). The bloom is built WITH an aggregation (bit_or over long
  words), collected to the driver at a fixed, tiny size (256 longs),
  and probed as a constant-folded literal array inside the fact scan's
  codegen stage — false positives are then removed by the exact join,
  so the result is bit-identical to the plain semi-join oracle.
- ``cdc_apply`` — changelog → snapshot: latest-wins upsert with
  tombstone deletes, the batch MERGE/compaction pattern behind every
  incremental ingest (Delta/Iceberg MERGE, Kafka compacted topics).
- ``sample_weighted`` — Efraimidis-Spirakis weighted sampling
  (key = u^(1/w)) with the uniform u derived from md5 bits, so the
  draw is seedless, layout-independent, and bitwise-reproducible on
  both engines — the weighted companion to ``sample_split`` /
  ``sample_stratified`` (quality- or length-weighted training mixes).
- ``udtf_lateral`` — a real Python UDTF (``@udtf(useArrow=True)``)
  consumed via SQL ``LATERAL``, planned as ``ArrowEvalPythonUDTF``.
- ``agg_hll_sketch`` — explicit mergeable HLL sketches
  (``hll_sketch_agg`` / ``hll_union_agg``), the store-and-reaggregate
  shape behind incremental distinct counts.
- ``resample_ffill`` — time-series regularization: generated hourly
  spine, empty buckets, ignore-nulls forward-fill window.
- ``json_variant`` — Spark 4 VARIANT semi-structured access:
  parse once to the binary encoding, typed ``variant_get`` walks.

Reference: /root/reference/src/main.rs has none of these (its surface
is the 9 §2A ingestion stages); these extend SURVEY.md §2B per the
BASELINE north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum
from ..plans.spec import Query
from ..sources.catalog import load_table

# Bloom geometry: 16384 bits / 3 hashes ≈ 1.6% false positives at 1k
# keys — prune rate is all that matters (correctness comes from the
# exact join behind it). 256 longs ≈ 2 KB: constant-foldable and far
# below any broadcast/driver concern at ANY corpus size, because the
# array size is fixed up front, not data-dependent.
BLOOM_BITS = 16_384
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_HASHES = 3
BLOOM_SEGMENT = "BUILDING"


def _bloom_test(key_sql: str, i: int) -> str:
    pos = f"pmod(xxhash64({key_sql}, {i}), {BLOOM_BITS})"
    return (
        f"(element_at(bf, cast({pos} div 64 as int) + 1)"
        f" & shiftleft(1L, cast({pos} % 64 as int))) != 0"
    )


def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of BUILDING-segment customers, pre-pruned by a Bloom
    filter on the scan side before the exact semi-join settles it.

    At 100 TB the semi-join's small side (here: one segment's customer
    keys) often still exceeds broadcast limits, while a fixed-size
    Bloom of those keys does not: the probe runs inside the fact
    scan's WholeStageCodegen as pure bit arithmetic on a 2 KB literal
    array, dropping ~98% of non-matching rows before the shuffle; the
    exact semi-join then only sees survivors, so false positives
    cannot reach the output. Build is fully distributed (explode k
    positions → bit_or per word); the driver materializes exactly
    BLOOM_WORDS longs — bounded by construction, like the 16-row IVF
    model (``similarity.py``). Oracle: the plain semi-join, which must
    match bit-for-bit.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    keys = c.where(F.col("c_mktsegment") == BLOOM_SEGMENT).select("c_custkey")

    positions = F.array(
        *[
            F.expr(f"pmod(xxhash64(c_custkey, {i}), {BLOOM_BITS})")
            for i in range(BLOOM_HASHES)
        ]
    )
    words = (
        keys.select(F.explode(positions).alias("pos"))
        .select(
            F.expr("cast(pos div 64 as int)").alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    by_word = {r.w: r.bits for r in words.collect()}  # ≤ BLOOM_WORDS rows
    bloom = F.array(
        *[F.lit(by_word.get(i, 0)).cast("long") for i in range(BLOOM_WORDS)]
    )

    probe = F.expr(
        " AND ".join(_bloom_test("o_custkey", i) for i in range(BLOOM_HASHES))
    )
    pruned = o.withColumn("bf", bloom).where(probe).drop("bf")
    return (
        pruned.join(keys, pruned.o_custkey == keys.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_price", 2),
        )
    )


SQL_JOIN_BLOOM_PREFILTER = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,8))), 2) AS DOUBLE)
         AS total_price
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
)
GROUP BY o_orderpriority
"""


CDC_TOMBSTONE = "error"  # the event type that plays the delete marker


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → snapshot: apply the events stream as a latest-wins
    upsert per ``user_id``, with ``{tombstone}`` events acting as
    deletes — the batch form of Delta/Iceberg MERGE or a Kafka
    compacted topic, and the compaction step behind every incremental
    ingest.

    One window over (user_id → ts desc, event_id desc) ranks each
    user's history; rank 1 is the current state, and a tombstone at
    rank 1 removes the key from the snapshot entirely. Catalyst plans
    a single sort+shuffle keyed on user_id (uniform — no skew), and
    WindowGroupLimit keeps per-task state at one row per key below the
    exchange. The non-key payload passes through un-arithmetic'd, so
    it hash-matches the oracle bit-for-bit.
    """
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .where(F.col("event_type") != CDC_TOMBSTONE)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("valid_from"),
        )
    )


q_cdc_apply.__doc__ = q_cdc_apply.__doc__.format(tombstone=CDC_TOMBSTONE)

SQL_CDC_APPLY = f"""
WITH latest AS (
  SELECT user_id, event_id, event_type, value, ts
  FROM events
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
)
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_type,
       value AS last_value,
       ts AS valid_from
FROM latest
WHERE event_type <> '{CDC_TOMBSTONE}'
"""


WEIGHTED_K = 50
# 6 hex digits = 24 bits: the integer is exact in a double on both
# engines, so u and every downstream value are bitwise engine-neutral.
_HEX_DENOM = 16**6 + 1


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement: top-{k} documents by the
    Efraimidis-Spirakis key u^(1/w), weight = ``n_chars`` — longer
    documents proportionally likelier, the standard trick for
    quality- or length-weighted training mixes.

    Determinism rules (same as ``sample_split`` / ``sample_stratified``,
    SCALE.md §20): u comes from the first 6 hex digits of
    ``md5(doc_id)`` — a pure function of row values, so the draw is
    seedless, partition-layout-independent, and identical on any
    cluster size or engine. The E-S key makes "top-k by key" EQUAL in
    distribution to sampling without replacement ∝ w, so the whole
    operator is one map + TakeOrderedAndProject (no shuffle beyond the
    top-k reduction; per-task state O(k)). The key is rounded before
    ranking so cross-engine pow/division ulp noise cannot flip an
    order the oracle can still see (SCALE.md §19 rule).
    """
    d = load_table(spark, sf_dir, "documents")
    v = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
    u = (v.cast("double") + F.lit(1.0)) / F.lit(float(_HEX_DENOM))
    wkey = F.round(
        F.pow(u, F.lit(1.0) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")),
        10,
    )
    return (
        d.select("doc_id", "lang", "n_chars", wkey.alias("wkey"))
        .orderBy(F.desc("wkey"), "doc_id")
        .limit(WEIGHTED_K)
    )


q_sample_weighted.__doc__ = q_sample_weighted.__doc__.format(k=WEIGHTED_K)

SQL_SAMPLE_WEIGHTED = f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         ROUND(POW(
           (list_sum(list_transform(range(1, 7),
              i -> (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                   * 16 ^ (6 - i))) + 1) / {_HEX_DENOM}.0,
           1.0 / GREATEST(n_chars, 1)), 10) AS wkey
  FROM documents
)
SELECT doc_id, lang, n_chars, wkey
FROM keyed
ORDER BY wkey DESC, doc_id
LIMIT {WEIGHTED_K}
"""


UDTF_MIN_WORD_LEN = 7
UDTF_DOC_CAP = 100


def q_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) + LATERAL join — the real UDTF
    surface, not the ``explode``/``mapInPandas`` shape the registry
    already covers: a user-defined generator expands each document
    into (pos, word) rows for words of length ≥ {minlen}, consumed via
    SQL ``LATERAL``.

    The UDTF runs Arrow-batched (``useArrow=True``) inside
    ``BatchEvalPythonUDTF`` — one python worker pass over the scan,
    no shuffle; the doc_id cap keeps the fixture output bounded and
    pushes down to the parquet scan. Semantics are deliberately also
    expressible as pure SQL (DuckDB's indexed list_transform +
    unnest) so the operator earns a FULL oracle — the point is the
    API surface and its plan shape, proven equivalent, not new
    semantics.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string", useArrow=True)
    class LongWords:
        def eval(self, text: str):
            if text is None:
                return
            for i, w in enumerate(text.split(" ")):
                if len(w) >= UDTF_MIN_WORD_LEN:
                    yield i, w

    spark.udtf.register("long_words", LongWords)
    d = load_table(spark, sf_dir, "documents")
    d.where(F.col("doc_id") < UDTF_DOC_CAP).select("doc_id", "text").createOrReplaceTempView(
        "udtf_docs"
    )
    return spark.sql(
        "SELECT doc_id, pos, word FROM udtf_docs, LATERAL long_words(text)"
    )


q_udtf_lateral.__doc__ = q_udtf_lateral.__doc__.format(minlen=UDTF_MIN_WORD_LEN)

SQL_UDTF_LATERAL = f"""
SELECT doc_id, w.pos, w.word
FROM (
  SELECT doc_id,
         unnest(list_filter(
           list_transform(string_split(text, ' '),
                          (s, i) -> struct_pack(pos := i - 1, word := s)),
           x -> length(x.word) >= {UDTF_MIN_WORD_LEN})) AS w
  FROM documents
  WHERE doc_id < {UDTF_DOC_CAP}
)
"""


HLL_TOLERANCE = 0.05


def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable count-distinct via explicit HLL sketches:
    ``hll_sketch_agg`` per language plus an ``hll_union_agg`` re-merge
    of those per-group sketches into the corpus-wide estimate.

    Why this exists next to ``agg_distinct``'s
    ``approx_count_distinct``: the EXPLICIT sketch objects are the
    100 TB incremental pattern — per-partition/per-day sketches are
    tiny, storable, and re-aggregatable, so a corpus-wide distinct
    count never rescans history (the same property the union row
    exercises here by merging the per-lang sketches instead of
    re-reading documents). Graded as an accuracy contract (SCALE.md
    §13): exact distinct counts computed on both engines bit-for-bit,
    plus a ``sketch_ok`` boolean asserting the HLL estimate lands
    within {tol}% of exact — TRUE on every row, deterministic because
    the sketch is seed-fixed.
    """
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.countDistinct("text").alias("n_exact"),
        F.hll_sketch_agg("text").alias("sk"),
    )
    lang_rows = per_lang.select(
        "lang",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= F.col("n_exact") * HLL_TOLERANCE
        ).alias("sketch_ok"),
    )
    all_row = (
        per_lang.agg(
            F.hll_union_agg("sk").alias("sk"),
        )
        .crossJoin(d.agg(F.countDistinct("text").alias("n_exact")))
        .select(
            F.lit("*all*").alias("lang"),
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                <= F.col("n_exact") * HLL_TOLERANCE
            ).alias("sketch_ok"),
        )
    )
    return lang_rows.unionByName(all_row)


q_agg_hll_sketch.__doc__ = q_agg_hll_sketch.__doc__.format(
    tol=int(HLL_TOLERANCE * 100)
)

SQL_AGG_HLL_SKETCH = """
SELECT lang, COUNT(DISTINCT text) AS n_exact, TRUE AS sketch_ok
FROM documents GROUP BY lang
UNION ALL
SELECT '*all*' AS lang, COUNT(DISTINCT text) AS n_exact, TRUE AS sketch_ok
FROM documents
"""


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample the event stream to an
    hourly grid per event type, materializing EMPTY buckets from a
    generated time spine, and forward-fill the last observed hourly
    sum across gaps — the gap-fill shape behind dashboards, feature
    windows, and any model that needs an observation per tick.

    Plan shape: the hourly aggregation is one groupBy over the scan;
    the spine is `sequence(min, max, 1 hour)` exploded from the tiny
    per-type bounds row (no driver-side range generation); the
    fill is `last(value, ignorenulls=True)` over an unbounded-
    preceding window per type — one extra shuffle on the already-
    bucket-sized frame, never on raw events. Buckets per key = time
    range / granularity regardless of event volume, so output and
    window state are bounded by the calendar, not the data.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    hourly = e.groupBy(F.col("event_type"), bucket.alias("bucket")).agg(
        dsum(F.col("value"), "sum_value", 2),
        F.count("*").alias("n_events"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("bucket"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spine.join(hourly, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_ffill"),
    )


SQL_RESAMPLE_FFILL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,8))), 2) AS DOUBLE)
           AS sum_value,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
  FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
)
SELECT s.event_type, s.bucket,
       COALESCE(h.n_events, 0) AS n_events,
       LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket) AS sum_ffill
FROM spine s
LEFT JOIN hourly h ON s.event_type = h.event_type AND s.bucket = h.bucket
"""


def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` converts the props JSON string to the binary
    variant encoding once, then ``variant_get`` extracts typed fields
    and ``try_variant_get`` probes an absent path without erroring.

    Versus ``array_map_json``'s ``get_json_object`` (string re-parse
    per path), VARIANT is THE 100 TB semi-structured story: parse
    once into a binary tree, then every extraction is a cheap typed
    walk — and parquet can store the variant column so downstream
    scans never re-parse at all. The aggregation keeps output scalar
    and engine-neutral (long sums are exact); the oracle mirrors with
    DuckDB's JSON extraction, proving the VARIANT path changes the
    encoding, not the answers.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    miss = F.expr("try_variant_get(parse_json(props), '$.absent.path', 'string')")
    return (
        e.select("event_type", k.alias("k"), miss.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("m").alias("n_absent_hits"),
        )
    )


SQL_JSON_VARIANT = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(json_extract_string(props, '$.absent.path')) AS n_absent_hits
FROM events
GROUP BY event_type
"""


QUERIES: list[Query] = [
    Query("join_bloom_prefilter", q_join_bloom_prefilter, SQL_JOIN_BLOOM_PREFILTER),
    Query("cdc_apply", q_cdc_apply, SQL_CDC_APPLY),
    Query("sample_weighted", q_sample_weighted, SQL_SAMPLE_WEIGHTED),
    Query("udtf_lateral", q_udtf_lateral, SQL_UDTF_LATERAL),
    Query("agg_hll_sketch", q_agg_hll_sketch, SQL_AGG_HLL_SKETCH),
    Query("resample_ffill", q_resample_ffill, SQL_RESAMPLE_FFILL),
    Query("json_variant", q_json_variant, SQL_JSON_VARIANT),
]
