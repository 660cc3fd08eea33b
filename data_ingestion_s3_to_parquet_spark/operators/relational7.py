"""Three more patterns a training-data pipeline leans on, each
oracle-gated.

- ``window_distribution`` — the distribution window family
  (``ntile`` / ``percent_rank`` / ``cume_dist``): quota assignment and
  score calibration over ranked groups — the window shapes behind
  per-source quality-quantile bucketing of a corpus.
- ``interleave_mix`` — deterministic weighted dataset interleaving
  (stride scheduling): given per-language integer weights, emit the
  exact training-mix order a data loader should read, as a pure
  function of row values — reproducible across engines, partitionings,
  and cluster sizes (same rule as ``sample_split``: no seeded rand).
- ``text_normalize`` — canonical text normalization (lowercase, trim,
  whitespace collapse) with audit metrics and a content fingerprint:
  the first map-only pass of every corpus pipeline, and the
  normalization step exact dedup keys on.

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


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows over orders: quartile (ntile), percent rank,
    cumulative distribution per order-priority group.

    One sort+shuffle serves all three functions (same window spec), and
    ``WindowExec`` streams each partition — per-task state is O(frame),
    not O(partition). Total order (o_totalprice, o_orderkey) makes
    ntile boundaries engine-deterministic. percent_rank/cume_dist are
    rebuilt from their integer ingredients (rank, peer count, n) and
    quantized by HALF-UP INTEGER DIVISION at 6 dp — rounding the
    engines' double ratios instead sits exactly on grid midpoints for
    unlucky (rank, n) pairs, the midpoint class of SCALE.md §34's
    postscript. All intermediates stay ≤ ~2e10, far inside exact
    int64/double range.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wp = Window.partitionBy("o_orderpriority")
    n = F.count("*").over(wp)
    # rank() yields INT; the micro-scaling below would overflow int32
    # for groups past ~1000 rows (measured: negative pct_rank at
    # sf0.01) — everything enters the arithmetic as long
    rk = F.rank().over(w).cast("long")
    # peers-inclusive running count == cume_dist numerator
    le = F.count("*").over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def micro_div(num, den):
        # round(num/den * 1e6) half-up, exact: operands < 2^53
        scaled = num * 1_000_000 * 2 + den
        return F.floor(scaled / (2 * den)).cast("long")

    pct = F.when(n == 1, F.lit(0)).otherwise(micro_div(rk - 1, n - 1))
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        (pct.cast("double") / 1e6).alias("pct_rank"),
        (micro_div(le, n).cast("double") / 1e6).alias("cum_dist"),
    )


SQL_WINDOW_DISTRIBUTION = """
WITH b AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ntile(4) OVER w AS quartile,
         rank()   OVER w AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
         COUNT(*) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS le
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
)
SELECT o_orderpriority, o_orderkey, o_totalprice, quartile,
       CAST(CASE WHEN n = 1 THEN 0
                 ELSE ((rk - 1) * 2000000 + (n - 1)) // (2 * (n - 1))
            END AS DOUBLE) / 1000000.0 AS pct_rank,
       CAST((le * 2000000 + n) // (2 * n) AS DOUBLE) / 1000000.0 AS cum_dist
FROM b
"""


# Integer stride weights per language (higher = denser in the mix).
# LCM-based integer strides keep the interleave key exact — float
# strides would risk cross-engine rounding flips on ties.
MIX_WEIGHTS = {"en": 5, "fr": 4, "de": 3, "es": 2, "zh": 1}
_MIX_LCM = 60  # lcm(1..5)


def _stride_case() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {_MIX_LCM // w}" for lang, w in MIX_WEIGHTS.items()
    )
    return f"CASE lang {whens} ELSE {_MIX_LCM} END"


def q_interleave_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus interleave (stride scheduling).

    Each language is an input "source" with an integer weight; the k-th
    document of source s (in md5(doc_id) order — value-derived, layout-
    independent) is scheduled at virtual time (2k-1)·(LCM/w_s), and the
    global mix order is that key ascending. The result is the classic
    stride/WFQ schedule: over any window of the output, source s
    contributes ≈ w_s/Σw of the rows — the exact composition control a
    training data loader needs, with no RNG anywhere.

    Scale: the per-language row_number is an ordinary partitioned
    window; ``mix_key`` is a pure function of row values, so
    re-running on any cluster size or appending a shard yields the
    same schedule (same invariance argument as ``sample_split``,
    SCALE.md §20). The final GLOBAL ``row_number`` exists only to
    materialize an explicit position for the oracle's hash — it is a
    single-partition window by definition. A production loader does
    NOT need it: ``mix_key`` is already the total order, so consumers
    range-sort by it (``repartitionByRange`` — fully distributed) and
    read partitions in key order.
    """
    d = load_table(spark, sf_dir, "documents")
    per_src = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    stride = F.expr(_stride_case())
    keyed = d.select(
        "doc_id",
        "lang",
        F.row_number().over(per_src).alias("rn"),
    ).withColumn("mix_key", (2 * F.col("rn") - 1) * stride)
    return keyed.select(
        F.row_number()
        .over(Window.orderBy("mix_key", "lang", "doc_id"))
        .alias("mix_pos"),
        "doc_id",
        "lang",
        "rn",
        "mix_key",
    )


def interleave_mix_distributed(
    spark: SparkSession, sf_dir: str, num_ranges: int = 8
) -> DataFrame:
    """The PRODUCTION materialization of :func:`q_interleave_mix`'s
    schedule — identical output, no single-partition sort (the one
    graded plan VERDICT r5's audit flagged as not surviving 100×).

    Distributed global ranking, the classic two-pass shape:

    1. ``repartitionByRange`` on the total order (mix_key, lang,
       doc_id) — a fully parallel range shuffle (sampled bounds) —
       then sort WITHIN each range partition only;
    2. count rows per range partition (a ``spark_partition_id``
       groupBy: one map-side-combined shuffle of ≤ num_ranges rows)
       and turn the counts into cumulative offsets driver-side —
       bounded by the partition count, never by data volume;
    3. ``mix_pos`` = offset[pid] + intra-partition row_number.

    Every stage is parallel in num_ranges; the only driver state is
    one integer per range partition. Equivalence to the graded
    single-partition materialization is pinned by
    tests/test_operators.py::test_interleave_mix_distributed_matches_graded.

    Storage lifetime (ADVICE r6): the eager ``localCheckpoint`` that
    pins partition ids across the two passes keeps one copy of the
    ranged frame in executor storage until released — it CANNOT be
    unpersisted here because the returned frame is lazy and its
    lineage is truncated at the checkpoint. The checkpointed frame is
    exposed as ``result.checkpoint_frame``; callers that invoke this
    repeatedly in one session should call
    ``result.checkpoint_frame.unpersist()`` after materializing the
    result.
    """
    d = load_table(spark, sf_dir, "documents")
    per_src = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    stride = F.expr(_stride_case())
    keyed = d.select(
        "doc_id", "lang", F.row_number().over(per_src).alias("rn")
    ).withColumn("mix_key", (2 * F.col("rn") - 1) * stride)

    ranged = (
        keyed.repartitionByRange(num_ranges, "mix_key", "lang", "doc_id")
        .sortWithinPartitions("mix_key", "lang", "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    ranged = ranged.localCheckpoint(eager=True)  # pin pids across the two passes
    counts = {
        r.pid: r.c
        for r in ranged.groupBy("pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    intra = Window.partitionBy("pid").orderBy("mix_key", "lang", "doc_id")
    out = ranged.select(
        (off[F.col("pid")] + F.row_number().over(intra)).alias("mix_pos"),
        "doc_id",
        "lang",
        "rn",
        "mix_key",
    )
    out.checkpoint_frame = ranged  # release handle — see docstring
    return out


SQL_INTERLEAVE_MIX = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
),
strided AS (
  SELECT doc_id, lang, rn,
         (2 * rn - 1) * ({_stride_case()}) AS mix_key
  FROM keyed
)
SELECT row_number() OVER (ORDER BY mix_key, lang, doc_id) AS mix_pos,
       doc_id, lang, rn, mix_key
FROM strided
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization with audit metrics: lowercase, trim,
    collapse runs of whitespace to single spaces; emit before/after
    sizes, a changed flag, and an md5 fingerprint of the normalized
    text (the key exact dedup should run on — byte-noise variants of
    the same content collapse to one fingerprint).

    Map-only: pure string expressions inside whole-stage codegen, no
    shuffle, no UDF — at 100 TB this pass is scan-bound, exactly as a
    first-pass normalizer must be.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
        F.size(F.split(norm, " ")).alias("n_tokens_norm"),
        (norm != F.col("text")).alias("changed"),
        F.md5(norm).alias("norm_fingerprint"),
    )


SQL_TEXT_NORMALIZE = r"""
WITH n AS (
  SELECT doc_id, lang, text,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, lang,
       length(text) AS n_chars_raw,
       length(norm) AS n_chars_norm,
       length(string_split(norm, ' ')) AS n_tokens_norm,
       norm != text AS changed,
       md5(norm) AS norm_fingerprint
FROM n
"""


QUERIES: list[Query] = [
    Query("window_distribution", q_window_distribution, SQL_WINDOW_DISTRIBUTION),
    Query("interleave_mix", q_interleave_mix, SQL_INTERLEAVE_MIX),
    Query("text_normalize", q_text_normalize, SQL_TEXT_NORMALIZE),
]
