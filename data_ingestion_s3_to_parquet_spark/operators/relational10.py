"""Winnowing fingerprints, an inverted index,
and CUSUM changepoint detection.

- ``doc_winnow``         winnowing fingerprint selection (the MOSS
                         algorithm: Schleimer, Wilkerson, Aiken,
                         SIGMOD'03 "Winnowing: Local Algorithms for
                         Document Fingerprinting") — the
                         position-aware, guarantee-carrying
                         fingerprint family next to the repo's
                         rolling-hash ``doc_fingerprint`` and
                         MinHash/SimHash whole-doc sketches
- ``inverted_index``     term → (df, tf, bounded posting list) — the
                         retrieval-side artifact of a corpus build
- ``changepoint_cusum``  per-customer CUSUM split-point detection on
                         the order stream — the distribution-shift
                         probe next to ``anomaly_zscore``'s pointwise
                         outliers

All three are graded with full bitwise oracles: every intermediate is
integer (40-bit md5-prefix gram hashes, packed argmin keys, exact
cent sums), so there is nothing for two engines to round differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.spec import Query
from ..sources.catalog import load_table

# --------------------------------------------------------------------
# doc_winnow
# --------------------------------------------------------------------

WINNOW_GRAM_N = 3  # words per gram (matches the repo shingle convention)
WINNOW_W = 4  # winnowing window: one fingerprint per W consecutive grams
# 40-bit gram hashes and 20-bit positions pack into one int64 key:
# key = h * 2^20 + (2^20 - 1 - pos). MIN(key) over a window is then
# "smallest hash, rightmost position on ties" — exactly the winnowing
# tie rule — decoded back by div/mod. 40 + 20 = 60 bits < 63, no
# overflow; docs are capped far below 2^20 grams at this layer (longer
# inputs go through chunk_text first).
_POS_BITS = 20
_POS_MOD = 1 << _POS_BITS  # 1048576
_FP_HEX = 10  # 40-bit gram fingerprint (exact in a double: < 2^53)


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection: from each document's rolling
    3-word-gram hashes, keep the minimum of every ``WINNOW_W``-gram
    window (rightmost on ties) and emit the distinct selected
    (position, fingerprint) pairs.

    Winnowing's guarantee (the reason MOSS uses it over "every k-th
    hash" sampling): any shared substring of at least
    ``WINNOW_W + WINNOW_GRAM_N - 1`` words produces at least one
    IDENTICAL selected fingerprint in both documents, so
    fingerprint-equality joins find all sufficiently long overlaps —
    position-aware plagiarism/quotation detection, where the whole-doc
    sketches (``dedup_fuzzy``) only score global similarity and
    ``dedup_passages`` needs a corpus-wide hot-gram table.

    Engine shape: the argmin-with-tie-break per sliding window — a
    scan-resistant imperative loop in most engines — collapses into
    ONE window-function pass by packing (hash, position) into a single
    int64 ordered so MIN() implements the tie rule (header comment).
    One gram explode, one per-doc window shuffle, a distinct; no join,
    no UDF. At 100 TB the shuffle key is doc_id (never the gram text)
    and output is ~|grams| / ((WINNOW_W + 1) / 2) rows by the
    winnowing density bound (2/(w+1)).

    Docs shorter than ``WINNOW_GRAM_N`` words have no grams and emit
    nothing; docs with fewer than ``WINNOW_W`` grams emit their single
    global minimum (the standard short-document degeneration).
    """
    return winnow_fingerprints(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """The input-pluggable winnowing core: (doc_id, text) in,
    distinct selected (doc_id, fp_pos, fp) out (docstring above)."""
    d = docs.select("doc_id", F.split("text", " ").alias("t"))
    m = F.greatest(F.size("t") - (WINNOW_GRAM_N - 1), F.lit(0))
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]); empty-gram
    # docs need an explicit empty array (the ngram_counts rule)
    idx = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[
                F.element_at(F.col("t"), (i + k).cast("int"))
                for k in range(WINNOW_GRAM_N)
            ],
        ),
    )
    g = (
        d.select("doc_id", m.alias("m"), F.posexplode(grams).alias("p0", "gram"))
        .select(
            "doc_id",
            "m",
            (F.col("p0") + 1).alias("pos"),
            F.conv(F.substring(F.md5("gram"), 1, _FP_HEX), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    key = F.col("h") * _POS_MOD + (F.lit(_POS_MOD - 1) - F.col("pos"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    sel = (
        g.select(
            "doc_id",
            "pos",
            "m",
            F.min(key.alias("k")).over(w).alias("mk"),
        )
        .where(F.col("pos") >= F.least(F.lit(WINNOW_W), F.col("m")))
        .select(
            "doc_id",
            (F.lit(_POS_MOD - 1) - F.col("mk") % _POS_MOD).alias("fp_pos"),
            # integer div, NOT `/`: float division of a 60-bit packed
            # key would round above 2^53
            F.expr(f"mk div {_POS_MOD}").alias("fp"),
        )
        .distinct()
    )
    return sel


def _sql_fp40(expr: str) -> str:
    """DuckDB mirror of the 40-bit md5-prefix fingerprint — digit-wise
    hex decode with double powers (exact below 2^53), one BIGINT cast
    (same scheme as trainprep._sql_fp48, narrowed to 10 digits)."""
    return (
        f"CAST(list_sum(list_transform(range(1, {_FP_HEX + 1}), j -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), j, 1)) - 1) "
        f"* 16 ^ ({_FP_HEX} - j))) AS BIGINT)"
    )


SQL_DOC_WINNOW = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         greatest(len(t) - {WINNOW_GRAM_N - 1}, 0) AS m,
         unnest(generate_series(1, greatest(len(t) - {WINNOW_GRAM_N - 1}, 0))) AS pos,
         unnest([{_sql_fp40(f"array_to_string(t[i:i+{WINNOW_GRAM_N - 1}], ' ')")}
                 for i in generate_series(1, greatest(len(t) - {WINNOW_GRAM_N - 1}, 0))]) AS h
  FROM t
),
k AS (
  SELECT doc_id, pos, m,
         MIN(h * {_POS_MOD} + ({_POS_MOD - 1} - pos)) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS mk
  FROM g
)
SELECT DISTINCT doc_id,
       {_POS_MOD - 1} - (mk % {_POS_MOD}) AS fp_pos,
       mk // {_POS_MOD} AS fp
FROM k WHERE pos >= least({WINNOW_W}, m)
"""


# --------------------------------------------------------------------
# inverted_index
# --------------------------------------------------------------------

POSTINGS_CAP = 8  # doc ids retained per posting list (smallest-first)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus inverted index: per term, the document frequency (df),
    total occurrence count (tf), and a bounded posting list — the
    first ``POSTINGS_CAP`` doc_ids ascending, comma-joined. The
    retrieval-side artifact of a corpus build (term lookup, df-based
    stopword discovery, seed postings for BM25), where
    ``tfidf_top_terms`` ranks terms per document.

    Scale shape: the posting list is CAPPED BEFORE aggregation — a
    per-term row_number over the distinct (term, doc) pairs keeps
    ≤ ``POSTINGS_CAP`` rows per term ahead of the collect, and Spark's
    WindowGroupLimit pushes that rank filter below the exchange, so a
    stopword's million-document posting list never materializes on one
    task (the classic inverted-index skew trap; full postings would be
    written sharded-by-(term, bucket), same keys, no collect). df and
    tf come from map-side-combinable counts; the three term-keyed
    aggregates co-partition, so AQE plans the final joins without an
    extra shuffle of anything corpus-sized.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = d.groupBy("term").agg(F.count("*").alias("tf"))
    pairs = d.distinct()
    df = pairs.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("term").orderBy("doc_id")
    postings = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings"
            )
        )
    )
    # every side is vocabulary-sized — which GROWS with the corpus
    # (typos, ids, rare tokens), so none may be broadcast-elected
    # (the §45 rule); all three aggs share the term partitioning
    return (
        df.join(tf.hint("shuffle_hash"), "term")
        .join(postings.hint("shuffle_hash"), "term")
        .select("term", "df", "tf", "postings")
    )


SQL_INVERTED_INDEX = f"""
WITH occ AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
pairs AS (SELECT DISTINCT term, doc_id FROM occ),
tf AS (SELECT term, COUNT(*) AS tf FROM occ GROUP BY term),
df AS (SELECT term, COUNT(*) AS df FROM pairs GROUP BY term),
capped AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
           ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM pairs
  ) WHERE rn <= {POSTINGS_CAP}
),
p AS (
  SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM capped GROUP BY term
)
SELECT term, df.df, tf.tf, p.postings
FROM df JOIN tf USING (term) JOIN p USING (term)
"""


# --------------------------------------------------------------------
# changepoint_cusum
# --------------------------------------------------------------------


def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer CUSUM changepoint detection over the order stream:
    order each customer's orders by (date, key), and find the split
    position that maximizes the scaled CUSUM deviation
    ``|n·S_i − i·S_n|`` (S = prefix sums of the order totals in
    cents) — the single-changepoint estimator for a level shift in
    spend, the distribution-shift probe next to ``anomaly_zscore``'s
    pointwise outliers. Returns (custkey, n_orders, split_pos, dev)
    for customers with ≥ 2 orders; ties go to the earliest split.

    Exactness: the textbook statistic ``|S_i − (i/n)·S_n|`` is scaled
    by n so it stays in integers — cents are int64 via the decimal
    cast (the relational8 rule), prefix sums are exact int64 window
    sums (max |n·S_i| ≈ n²·maxprice·100 < 2^63 for n ≤ ~10⁶ orders
    per customer), and the argmax is an integer sort (dev DESC, i ASC)
    — nothing for two engines to round differently.

    Plan: ONE shuffle on custkey serves both window passes (prefix sum
    and whole-partition totals share the partitioning) and the
    row_number argmax — three window functions, zero joins, zero UDFs;
    at 100 TB this is a scan plus a customer-keyed exchange.
    """
    return cusum_changepoints(
        load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            (F.col("o_totalprice").cast("decimal(18,8)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )


def cusum_changepoints(o: DataFrame) -> DataFrame:
    """The input-pluggable CUSUM core: (o_custkey, o_orderkey,
    o_orderdate, cents) in, the per-customer best split out."""
    order = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    whole = Window.partitionBy("o_custkey")
    pre = o.select(
        "o_custkey",
        F.row_number().over(order).alias("i"),
        F.sum("cents").over(order.rowsBetween(Window.unboundedPreceding, 0)).alias("s_i"),
        F.count("*").over(whole).alias("n"),
        F.sum("cents").over(whole).alias("s_n"),
    )
    dev = pre.where((F.col("n") >= 2) & (F.col("i") < F.col("n"))).select(
        "o_custkey",
        "i",
        "n",
        F.abs(F.col("n") * F.col("s_i") - F.col("i") * F.col("s_n")).alias("d"),
    )
    best = Window.partitionBy("o_custkey").orderBy(F.desc("d"), "i")
    return (
        dev.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("n").alias("n_orders"),
            F.col("i").alias("split_pos"),
            F.col("d").alias("dev"),
        )
    )


SQL_CHANGEPOINT_CUSUM = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(CAST(o_totalprice AS DECIMAL(18,8)) * 100 AS BIGINT) AS cents
  FROM orders
),
pre AS (
  SELECT o_custkey,
         ROW_NUMBER() OVER w AS i,
         SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_i,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n,
         SUM(cents) OVER (PARTITION BY o_custkey) AS s_n
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
dev AS (
  SELECT o_custkey, i, n,
         CAST(abs(n * s_i - i * s_n) AS BIGINT) AS d
  FROM pre WHERE n >= 2 AND i < n
)
SELECT o_custkey, n AS n_orders, CAST(i AS INT) AS split_pos, d AS dev
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d DESC, i) AS rn
  FROM dev
) WHERE rn = 1
"""


# --------------------------------------------------------------------
# winnow_overlap
# --------------------------------------------------------------------

OVERLAP_MIN_SHARED = 2  # fingerprints two docs must share to pair
OVERLAP_FP_MAX_DF = 16  # fingerprints in more docs than this are boilerplate


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The application of ``doc_winnow``: document pairs sharing at
    least ``OVERLAP_MIN_SHARED`` selected fingerprints — the
    MOSS-style plagiarism/quotation detector. By the winnowing
    guarantee every shared span of ≥ WINNOW_W + WINNOW_GRAM_N − 1
    words contributes an identical selected fingerprint to both
    documents, so overlap detection is an EQUALITY join on
    fingerprints, never an all-pairs comparison. Returns
    (doc_a, doc_b, n_shared, n_a, n_b) — the shared count plus each
    side's total distinct fingerprints, the exact integer parts of
    the containment ratios (num/den rule; no float ratio column).

    Skew control, the standard two-sided split: fingerprints present
    in more than ``OVERLAP_FP_MAX_DF`` documents are BOILERPLATE
    (templates, licence headers) — they would pair everything with
    everything (df² growth) while carrying no pairwise signal, and
    corpus-wide repetition is ``dedup_passages``'s job. The df cap
    bounds the pair fan-out per fingerprint at df² ≤ 256; every join
    side is corpus-proportional and shuffle_hash-pinned (§45).
    """
    from ..sources.catalog import load_table

    # localCheckpoint: four consumers (df table, both join sides,
    # totals) would otherwise each recompute the whole winnowing
    # window pass — the loop-frame rule, not a cache
    sel = (
        winnow_fingerprints(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint()
    )
    df_ok = (
        sel.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= OVERLAP_FP_MAX_DF)
        .select("fp")
    )
    live = sel.join(df_ok.hint("shuffle_hash"), "fp", "left_semi")
    totals = sel.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = live.select(F.col("doc_id").alias("doc_a"), "fp")
    b = live.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b.hint("shuffle_hash"), "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= OVERLAP_MIN_SHARED)
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        pairs.join(ta.hint("shuffle_hash"), "doc_a")
        .join(tb.hint("shuffle_hash"), "doc_b")
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b")
    )


SQL_WINNOW_OVERLAP = f"""
WITH w AS MATERIALIZED ({SQL_DOC_WINNOW}),
sel AS (SELECT DISTINCT doc_id, fp FROM w),
ok AS (SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= {OVERLAP_FP_MAX_DF}),
live AS (SELECT sel.doc_id, sel.fp FROM sel SEMI JOIN ok USING (fp)),
totals AS (SELECT doc_id, COUNT(*) AS n_fp FROM sel GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM live a JOIN live b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {OVERLAP_MIN_SHARED}
)
SELECT doc_a, doc_b, n_shared, ta.n_fp AS n_a, tb.n_fp AS n_b
FROM pairs
JOIN totals ta ON ta.doc_id = doc_a
JOIN totals tb ON tb.doc_id = doc_b
"""


# --------------------------------------------------------------------
# rank_bm25
# --------------------------------------------------------------------

# Fixed query terms over the fixture vocabulary, chosen for an IDF
# spread: "dup" is rare (df 25/500 at sf0.01 — high IDF, dominates the
# ranking) while the others are near-ubiquitous (df ~380-400/500 — low
# IDF, tf/length tie-breakers). Okapi constants k1 = 1.2, b = 0.75
# (Robertson & Zaragoza, "The Probabilistic Relevance Framework:
# BM25 and Beyond").
BM25_TERMS = ("dup", "vector", "join", "scan")
BM25_TOPK = 20

# The per-(doc, term) BM25 contribution in MICRO units, as ONE shared
# expression string evaluated verbatim by BOTH engines (the
# corr_pearson rule: exact integer inputs — tf, df, dl, n_docs,
# total_len — cast to double once, a pinned IEEE op sequence, then
# micro-quantize; identical text ⇒ identical double ops ⇒ identical
# bits on one libm). avgdl never materializes: dl/avgdl is computed
# as dl * n_docs / total_len to keep the operand order pinned.
_BM25_MICRO_EXPR = (
    "CAST(ROUND("
    "ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
    " * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)"
    " + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)"
    " / CAST(total_len AS DOUBLE)))))"
    " * 1000000, 0) AS BIGINT)"
)


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_hit_terms, micro_score) for every document matching
    ≥ 1 query term — the shared core of :func:`q_rank_bm25` (top-k)
    and :func:`q_rank_fusion_rrf` (hybrid fusion)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    tf = (
        toks.where(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("w").agg(F.count("*").alias("df"))
    doclen = d.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    stats = d.select(F.size(F.split("text", " ")).alias("dl0")).agg(
        F.count("*").alias("n_docs"),
        F.sum("dl0").alias("total_len"),
    )
    return (
        tf.join(F.broadcast(df_tbl), "w")
        .join(doclen.hint("shuffle_hash"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id", F.expr(_BM25_MICRO_EXPR).alias("micro")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_terms"),
            F.sum("micro").alias("micro_score"),
        )
    )


def q_rank_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval scoring: the top-``BM25_TOPK`` documents
    for a fixed multi-term query, scored from exact corpus statistics
    — the ranking half of the retrieval story whose artifact half is
    ``inverted_index`` (its postings are exactly the (term → doc, tf)
    pairs this query joins).

    Scale shape: the token explode is filtered to the query terms
    MAP-SIDE (a 4-literal isin before any exchange, so only matching
    tokens ever shuffle); per-doc tf is one combinable groupBy; the
    df table is bounded by |query| (a provably safe broadcast, the
    ``vocab_coverage`` rule); corpus stats (n_docs, total_len) are a
    one-row aggregate cross-joined as a broadcast; doc lengths join
    the tf pairs with a shuffle_hash pin (both sides are
    corpus-proportional — df of a common term is O(corpus) — so
    letting Catalyst broadcast the post-explode side would be the
    driver-OOM trap, SCALE.md §3). The final top-k is
    TakeOrderedAndProject — never a single-task global sort — with a
    row_number window only over the ≤ ``BM25_TOPK`` survivors.

    Exactness: per-(doc, term) scores are micro-quantized through one
    shared expression string (see ``_BM25_MICRO_EXPR``) and summed as
    int64; ranking ties break on doc_id. The reported score is the
    one exact int→double projection.
    """
    scored = _bm25_scored(spark, sf_dir)
    topk = scored.orderBy(
        F.desc("micro_score"), F.col("doc_id")
    ).limit(BM25_TOPK)
    w = Window.orderBy(F.desc("micro_score"), F.col("doc_id"))
    return topk.select(
        F.row_number().over(w).alias("rank"),
        "doc_id",
        "n_hit_terms",
        (F.col("micro_score").cast("double") / 1e6).alias("score"),
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
# The scored-docs CTE chain, factored so the RRF fusion oracle embeds
# the IDENTICAL text (oracle drift between the standalone and fused
# BM25 would be a silent correctness hole).
_SQL_BM25_SCORED = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks
  WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, w
),
df_tbl AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
doclen AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_len
  FROM documents
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
         CAST(SUM({_BM25_MICRO_EXPR}) AS BIGINT) AS micro_score
  FROM tf JOIN df_tbl USING (w) JOIN doclen USING (doc_id)
  CROSS JOIN stats
  GROUP BY doc_id
)
SELECT doc_id, n_hit_terms, micro_score FROM scored
"""

SQL_RANK_BM25 = f"""
WITH bm_scored AS ({_SQL_BM25_SCORED})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY micro_score DESC, doc_id) AS INT)
         AS rank,
       doc_id, n_hit_terms,
       CAST(micro_score AS DOUBLE) / 1000000.0 AS score
FROM bm_scored
ORDER BY micro_score DESC, doc_id
LIMIT {BM25_TOPK}
"""


# --------------------------------------------------------------------
# rank_fusion_rrf
# --------------------------------------------------------------------

# Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09):
# score(d) = sum over rankings of 1/(k + rank_d), k = 60 — the
# training-free hybrid-retrieval combiner. Lists are truncated to the
# top RRF_LIST_N before fusing, which is both the standard practice
# and the scale story: everything after the two TakeOrdered heads is
# constant-size.
RRF_K = 60
RRF_LIST_N = 50
RRF_TOPK = 20

# one shared expression (the _BM25_MICRO_EXPR rule): CAST(1 AS DOUBLE)
# forces double division in BOTH engines — a bare 1.0 literal is
# DECIMAL in Spark SQL and its division rounds differently
_RRF_MICRO_EXPR = (
    f"CAST(ROUND((COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + ra), CAST(0 AS DOUBLE))"
    f" + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + rb), CAST(0 AS DOUBLE)))"
    f" * 1000000, 0) AS BIGINT)"
)


def q_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the lexical BM25 ranking
    (:func:`_bm25_scored`) with the LM-fluency ranking
    (``lm_unigram_score``'s avg_nll, ascending — a quality prior) by
    reciprocal-rank fusion. RRF is the production hybrid-search
    combiner (lexical + semantic/quality lists) precisely because it
    needs no score calibration — only ranks — so two incomparable
    scoring scales compose without tuning.

    Scale shape: each list is a TakeOrderedAndProject head (never a
    global sort); ranks come from row_number windows over the ≤
    ``RRF_LIST_N`` survivors; the full-outer join and final top-k run
    on constant-size frames. Exactness: ranks are exact ints, the
    1/(k+r) terms are the same pinned double expression in both
    engines, micro-quantized once.
    """
    from .relational8 import q_lm_unigram_score

    bm = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("micro_score"), F.col("doc_id"))
        .limit(RRF_LIST_N)
    )
    wa = Window.orderBy(F.desc("micro_score"), F.col("doc_id"))
    bm_top = bm.select(
        "doc_id", F.row_number().over(wa).alias("ra")
    )
    lm = (
        q_lm_unigram_score(spark, sf_dir)
        .orderBy(F.asc("avg_nll"), F.col("doc_id"))
        .limit(RRF_LIST_N)
    )
    wb = Window.orderBy(F.asc("avg_nll"), F.col("doc_id"))
    lm_top = lm.select(
        "doc_id", F.row_number().over(wb).alias("rb")
    )
    fused = bm_top.join(lm_top, "doc_id", "full_outer").select(
        "doc_id", "ra", "rb", F.expr(_RRF_MICRO_EXPR).alias("micro")
    )
    top = fused.orderBy(F.desc("micro"), F.col("doc_id")).limit(RRF_TOPK)
    wr = Window.orderBy(F.desc("micro"), F.col("doc_id"))
    return top.select(
        F.row_number().over(wr).alias("rank"),
        "doc_id",
        F.col("ra").alias("bm25_rank"),
        F.col("rb").alias("lm_rank"),
        (F.col("micro").cast("double") / 1e6).alias("rrf_score"),
    )


def _sql_rank_fusion_rrf() -> str:
    # late import would be circular at module load; the lm oracle text
    # is embedded verbatim as a nested-WITH subquery so the fused and
    # standalone lm rankings can never drift
    from .relational8 import SQL_LM_UNIGRAM_SCORE

    return f"""
WITH bm_scored AS ({_SQL_BM25_SCORED}),
lm AS ({SQL_LM_UNIGRAM_SCORE}),
bm_top AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY micro_score DESC, doc_id) AS INT)
           AS ra
  FROM bm_scored ORDER BY micro_score DESC, doc_id LIMIT {RRF_LIST_N}
),
lm_top AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY avg_nll ASC, doc_id) AS INT) AS rb
  FROM lm ORDER BY avg_nll ASC, doc_id LIMIT {RRF_LIST_N}
),
fused AS (
  SELECT COALESCE(b.doc_id, l.doc_id) AS doc_id, ra, rb,
         {_RRF_MICRO_EXPR} AS micro
  FROM bm_top b FULL OUTER JOIN lm_top l ON b.doc_id = l.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY micro DESC, doc_id) AS INT) AS rank,
       doc_id, ra AS bm25_rank, rb AS lm_rank,
       CAST(micro AS DOUBLE) / 1000000.0 AS rrf_score
FROM fused ORDER BY micro DESC, doc_id LIMIT {RRF_TOPK}
"""


# --------------------------------------------------------------------
# ewma_smooth
# --------------------------------------------------------------------

# Truncated exponential smoothing: α = 1/4, depth K = 8. The weight of
# lag j is α(1−α)^j = 3^j/4^(j+1); scaling by 4^K makes every
# coefficient an exact integer c_j = 3^j · 4^(K−1−j) — the entire
# statistic is int64 arithmetic until one final projection, so the
# oracle is bitwise despite "exponential" in the name. Truncation at
# K lags is the distributed-systems operating point anyway: an
# unbounded EWMA is a sequential scan per key, while a K-lag window is
# one shuffle on the key and K in-frame lags.
EWMA_ALPHA_DEN = 4  # α = 1/EWMA_ALPHA_DEN
EWMA_DEPTH = 8
EWMA_COEFS = tuple(
    3**j * 4 ** (EWMA_DEPTH - 1 - j) for j in range(EWMA_DEPTH)
)  # (16384, 12288, 9216, 6912, 5184, 3888, 2916, 2187), sum 58975


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values
    — the time-series smoothing primitive (anomaly baselines, rate
    estimators) next to ``time_weighted_avg``'s duration weighting and
    ``changepoint_cusum``'s level shifts.

    Each event's EWMA is the c-weighted mean of its own and its
    ≤ ``EWMA_DEPTH − 1`` preceding values within the user's stream
    (ordered by ts, event_id), with the weight vector renormalized
    over however much history exists (so early events are unbiased
    rather than damped toward zero). Values are quantized to exact
    cents first (the statev2/fixed-point rule); weights are the exact
    integers ``EWMA_COEFS``; the division is one half-up integer
    division to micro-cents at the end.

    Scale shape: ONE exchange (hash by user_id), then everything is
    in-frame: K−1 lags over one window spec share a single sort, and
    the arithmetic is row-local. State per task is the window frame —
    K longs per key — not the stream.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select(
        "event_id",
        "user_id",
        "ts",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    lags = [
        F.col("cents") if j == 0 else F.lag("cents", j).over(w)
        for j in range(EWMA_DEPTH)
    ]
    s = sum(
        (
            F.coalesce(lag, F.lit(0)) * F.lit(c)
            for lag, c in zip(lags, EWMA_COEFS)
        ),
        start=F.lit(0),
    )
    wsum = sum(
        (
            F.when(lag.isNotNull(), F.lit(c)).otherwise(F.lit(0))
            for lag, c in zip(lags, EWMA_COEFS)
        ),
        start=F.lit(0),
    )
    n_hist = sum(
        (
            F.when(lag.isNotNull(), F.lit(1)).otherwise(F.lit(0))
            for lag in lags
        ),
        start=F.lit(0),
    )
    return base.select(
        "event_id",
        "user_id",
        "cents",
        n_hist.cast("int").alias("n_hist"),
        s.cast("long").alias("s"),
        wsum.cast("long").alias("wsum"),
    ).select(
        "event_id",
        "user_id",
        "cents",
        "n_hist",
        # half-up INTEGER division (div, never `/` — long `/` is float
        # division and loses bits above 2^53) to micro-cents, one
        # exact int→double projection (values are non-negative across
        # the fixtures; a NULL-cents row contributes nothing and a key
        # whose whole frame is NULL yields NULL, not a crash)
        F.expr(
            "CASE WHEN wsum > 0 THEN"
            " CAST((2 * s * 1000000 + wsum) div (2 * wsum) AS DOUBLE)"
            " / 1000000.0 END"
        ).alias("ewma"),
    )


SQL_EWMA_SMOOTH = f"""
WITH base AS (
  SELECT event_id, user_id, ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
lagged AS (
  SELECT event_id, user_id, cents,
         {", ".join(
             f"LAG(cents, {j}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l{j}"
             for j in range(1, EWMA_DEPTH)
         )}
  FROM base
),
summed AS (
  SELECT event_id, user_id, cents,
         {" + ".join(
             f"COALESCE({'cents' if j == 0 else f'l{j}'}, 0) * {c}"
             for j, c in enumerate(EWMA_COEFS)
         )} AS s,
         {" + ".join(
             f"CASE WHEN {'cents' if j == 0 else f'l{j}'} IS NOT NULL THEN {c} ELSE 0 END"
             for j, c in enumerate(EWMA_COEFS)
         )} AS wsum,
         {" + ".join(
             f"CASE WHEN {'cents' if j == 0 else f'l{j}'} IS NOT NULL THEN 1 ELSE 0 END"
             for j in range(EWMA_DEPTH)
         )} AS n_hist
  FROM lagged
)
SELECT event_id, user_id, cents,
       CAST(n_hist AS INT) AS n_hist,
       CASE WHEN wsum > 0
            THEN CAST((2 * s * 1000000 + wsum) // (2 * wsum) AS DOUBLE)
                 / 1000000.0
       END AS ewma
FROM summed
"""


QUERIES: list[Query] = [
    Query("doc_winnow", q_doc_winnow, SQL_DOC_WINNOW, bench=True),
    Query("inverted_index", q_inverted_index, SQL_INVERTED_INDEX),
    Query("changepoint_cusum", q_changepoint_cusum, SQL_CHANGEPOINT_CUSUM),
    Query("winnow_overlap", q_winnow_overlap, SQL_WINNOW_OVERLAP),
    Query("rank_bm25", q_rank_bm25, SQL_RANK_BM25),
    Query("rank_fusion_rrf", q_rank_fusion_rrf, _sql_rank_fusion_rrf()),
    Query("ewma_smooth", q_ewma_smooth, SQL_EWMA_SMOOTH),
]
