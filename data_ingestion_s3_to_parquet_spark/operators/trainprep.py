"""Training-data preparation operators: deterministic splits and
per-class embedding centroids.

Reference scope note: absent from the reference (its whole surface is
SURVEY.md §2A); these are LLM-data-pipeline [EXT] operators per
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import davg, davg_sql
from ..functions.text import (
    STOPWORDS,
    alpha_ratio,
    stopword_ratio,
    tokens,
    with_hashed_shingles,
)
from ..plans.spec import Query
from ..sources.catalog import load_table, local_frame, spread

# First 4 hex chars of md5(doc_id) below this bound → test split.
# 0x1999 / 0x10000 ≈ 10.0%. Lowercase-hex string comparison IS numeric
# comparison for equal-length strings, so no engine-specific hex→int
# conversion is needed — md5 renders identical lowercase hex in Spark
# and DuckDB.
SPLIT_BOUND = "1999"


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split over documents.

    The split must be (a) stable across runs, cluster sizes, and row
    order — so no ``rand()`` / ``df.sample`` (seeded rand is
    partition-layout-dependent in Spark); (b) a pure per-row function —
    so it needs no shuffle, survives incremental appends (a new
    document's split never depends on the rest of the corpus), and at
    100 TB is a free map over the scan. Hashing the stable primary key
    and thresholding the hex prefix gives exactly that, and both
    engines agree bitwise because md5 is standardized.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return d.select(
        "doc_id",
        "lang",
        F.when(bucket < SPLIT_BOUND, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


SQL_SAMPLE_SPLIT = f"""
SELECT doc_id, lang,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{SPLIT_BOUND}'
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (element-wise mean vector) — the
    building block for IVF coarse quantizers and class prototypes.

    Spark has no native vector-mean aggregate, so the vector is
    flattened with ``posexplode`` (rows × dim, all JVM-side), averaged
    per (label, position) with the order-independent decimal mean, and
    re-assembled with a position-sorted ``collect_list``. The explode
    multiplies row count by dim but the per-(label,pos) aggregation is
    map-side-combinable, so shuffle volume is labels × dim — tiny —
    regardless of input size; this is the scalable shape at 100 TB
    (the alternative, zip_with fold over collect_list of whole vectors,
    concentrates every vector of a label in one task).

    Positions are emitted 1-based to match DuckDB's
    ``generate_subscripts``; floats widen to double before the decimal
    cast so both engines round the same value.

    The registry query returns the long ``(label, pos, c)`` form — all
    scalar columns, since the driver's canonicalizer cannot hash array
    cells (round-1 fail). :func:`emb_centroids_vec` rebuilds the dense
    ``array<double>`` centroid for API consumers (pytest-covered).
    """
    return _centroids_long(spark, sf_dir)


def _centroids_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.col("val").cast("double").alias("val"),
    )
    return flat.groupBy("label", "pos").agg(davg("val", "c", scale=6))


def emb_centroids_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-label centroid vectors: the long form re-assembled
    with a position-sorted ``collect_list`` (bounded: labels × dim)."""
    cent = _centroids_long(spark, sf_dir)
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("centroid")
    )


SQL_EMB_CENTROIDS = f"""
WITH flat AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
SELECT label, pos,
       {davg_sql("val", "c")}
FROM flat GROUP BY label, pos
"""


KEEP_LANGS = ("en", "fr", "es", "de")
QUALITY_MIN = 0.38


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus pipeline, end to end: language
    filter → quality-score filter → exact dedup (keep the lowest
    doc_id per text) → deterministic train/test split. Output is the
    corpus manifest a downstream tokenizer run would consume.

    Stage order is chosen for scale: the per-row filters (lang,
    quality) run first inside the scan's codegen stage so the only
    shuffle — the dedup aggregation — sees the already-thinned corpus.
    The dedup keys on ``sha2(text, 256)`` (collision-safe at any
    corpus size) and the document body is PROJECTED AWAY before the
    shuffle: the exchange moves a 64-char fingerprint plus three
    scalars per row instead of full document text (VERDICT r2 "what's
    wrong" #1). ``groupBy`` + ``min_by`` (not a window) keeps the
    aggregation map-side combinable, so a massively-duplicated
    document collapses per task before it can become a hot shuffle
    key. The split column is again a pure map, so the whole pipeline
    is one payload-light shuffle regardless of input size. pytest +
    the text-keyed DuckDB oracle assert output identity.
    """
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    sw = stopword_ratio(F.col("text"))
    al = alpha_ratio(F.col("text"))
    dr = F.size(F.array_distinct(t)).cast("double") / F.size(t)
    quality = F.round(0.4 * sw + 0.3 * al + 0.3 * dr, 6)
    kept = (
        d.where(F.col("lang").isin(*KEEP_LANGS))
        .withColumn("quality_score", quality)
        .where(F.col("quality_score") >= QUALITY_MIN)
    )
    uniq = (
        kept.select(
            "doc_id", "lang", "quality_score",
            F.sha2(F.col("text"), 256).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "quality_score"), "doc_id"
            ).alias("r")
        )
        .select("r.*")
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return uniq.select(
        "doc_id",
        "lang",
        "quality_score",
        F.when(bucket < SPLIT_BOUND, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


_STOPLIST = ", ".join(f"'{w}'" for w in STOPWORDS)

SQL_CORPUS_PREP = f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         ROUND(0.4 * (CAST(len(list_filter(string_split(text, ' '),
                        w -> w IN ({_STOPLIST}))) AS DOUBLE)
                      / len(string_split(text, ' ')))
             + 0.3 * (CAST(LENGTH(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                      / LENGTH(text))
             + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / len(string_split(text, ' '))), 6) AS quality_score
  FROM documents
  WHERE lang IN ({", ".join(f"'{lg}'" for lg in KEEP_LANGS)})
),
uniq AS (
  SELECT * FROM scored
  WHERE quality_score >= {QUALITY_MIN}
  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY text)
)
SELECT doc_id, lang, quality_score,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{SPLIT_BOUND}'
            THEN 'test' ELSE 'train' END AS split
FROM uniq
"""


DECON_N = 5           # shingle length: random n-gram collisions ~0 at n=5
DECON_BENCH_MOD = 10  # doc_id % 10 == 0 plays the held-out benchmark set
DECON_MIN_HITS = 1    # any shared n-gram → contaminated (GPT-3-style)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training documents that share any
    word n-gram with a held-out benchmark set (here: the ``doc_id %
    {mod} == 0`` decile of ``documents`` stands in for the benchmark).

    This is the GPT-3/PaLM-style n-gram overlap filter: with n = 5,
    accidental collisions are ~zero on natural text, so a hit means a
    verbatim phrase leaked from an eval set into training data. On the
    fixtures only the planted near-duplicate pairs whose twin landed in
    the benchmark decile get flagged — exactly the intended semantics.

    Scale shape (the 100 TB story): benchmark corpora are tiny (MBs)
    next to the training corpus, so the distinct benchmark-shingle set
    is explicitly ``broadcast`` — the whole operator is then a map-side
    semi-join over the corpus scan with one count aggregation; no
    corpus-sized shuffle at any point. Shingles are ``xxhash64`` hashes
    (``functions/text.py::with_hashed_shingles``), not strings, so the
    broadcast table is fixed-width longs. The oracle recomputes overlap
    with string shingles — hashing is equality-preserving, so the
    (doc_id, n_hits, contaminated) output matches bitwise.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = with_hashed_shingles(d, n=DECON_N)
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bench_grams = (
        sh.where(is_bench).select(F.explode("sh").alias("g")).distinct()
    )
    train = sh.where(~is_bench)
    hits = (
        train.select("doc_id", F.explode("sh").alias("g"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    n_hits = F.coalesce("n_hits", F.lit(0))
    # hits is per-flagged-doc (corpus-proportional in the worst case):
    # pin shuffle-hash so Catalyst's post-aggregate estimate can't
    # broadcast a corpus-sized frame at scale
    return (
        train.select("doc_id")
        .join(hits.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            n_hits.alias("n_hits"),
            (n_hits >= DECON_MIN_HITS).alias("contaminated"),
        )
    )


def _sql_gram(n: int) -> str:
    joined = " || ' ' || ".join(f"t[i+{k}]" for k in range(n))
    return (
        f"[{joined} for i in generate_series(1, len(t)-{n - 1})]"
    )


SQL_DECONTAMINATE = f"""
WITH sh AS (
  SELECT doc_id, list_distinct({_sql_gram(DECON_N)}) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0
),
train AS (
  SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % {DECON_BENCH_MOD} <> 0
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hits FROM train
  WHERE g IN (SELECT g FROM bench) GROUP BY doc_id
)
SELECT s.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) >= {DECON_MIN_HITS} AS contaminated
FROM sh s LEFT JOIN hits h USING (doc_id)
WHERE s.doc_id % {DECON_BENCH_MOD} <> 0
"""


PACK_BUDGET = 2048  # target tokens per training sequence
PACK_SHARDS = 16


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedily concatenate documents into
    fixed-token-budget training sequences (the standard pre-training
    batching step — pack short docs together so every sequence is
    ~budget tokens).

    Distributed semantics: a GLOBAL greedy pack would serialize the
    corpus through one task, so documents are sharded by
    ``doc_id % PACK_SHARDS`` and packed within shards in doc_id order —
    a document belongs to the pack where its running token offset
    starts (``offset div budget``), so a pack overruns its budget by at
    most one document, exactly like streaming packers. The per-shard
    window is the only non-map stage; shards are uniform (modular
    hashing), so at scale you raise PACK_SHARDS to O(cores) and every
    window partition stays bounded. Token counts use the same chars/4
    BPE estimator as ``text_stats``.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = base.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "pack_id", F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SQL_SEQ_PACK = f"""
WITH base AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM base
)
SELECT shard, (cum - n_tokens) // {PACK_BUDGET} AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY 1, 2
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage-reduction step of a large-scale vector store (float32 →
    int8 is a 4× scan-bytes cut for ANN probes).

    Per vector: ``scale = max|x| / 127``, ``q_i = round(x_i/scale)``,
    reported as scalar audit columns (quantized checksum + max absolute
    reconstruction error) rather than the array itself — array-typed
    final projections crash the driver's canonicalizer (VERDICT r1 §2).
    Everything is per-row Catalyst lambda algebra in double precision
    (array order, matching DuckDB's list lambdas bitwise): no shuffle,
    no UDF — at 100 TB this is a free map over the scan.
    """
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("xd"),
    ).withColumn(
        "maxabs", F.array_max(F.transform("xd", F.abs))
    ).withColumn(
        "scale",
        F.when(F.col("maxabs") > 0, F.col("maxabs") / F.lit(127.0)).otherwise(
            F.lit(1.0)
        ),
    )
    scale = F.col("scale")
    sum_q = F.aggregate(
        F.transform("xd", lambda x: F.round(x / scale, 0).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    max_err = F.array_max(
        F.transform("xd", lambda x: F.abs(x - F.round(x / scale, 0) * scale))
    )
    return base.select(
        "vec_id",
        "label",
        F.round(scale, 6).alias("q_scale"),
        sum_q.alias("sum_q"),
        F.round(max_err, 6).alias("max_abs_err"),
    )


SQL_EMBEDDING_QUANTIZE = """
WITH b AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS xd,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
  FROM embeddings
),
s AS (
  SELECT vec_id, label, xd,
         CASE WHEN maxabs > 0 THEN maxabs / 127.0 ELSE 1.0 END AS scale
  FROM b
)
SELECT vec_id, label, ROUND(scale, 6) AS q_scale,
       CAST(list_sum(list_transform(xd, x -> CAST(round(x / scale) AS BIGINT)))
            AS BIGINT) AS sum_q,
       ROUND(list_max(list_transform(xd, x -> abs(x - round(x / scale) * scale))),
             6) AS max_abs_err
FROM s
"""


STRAT_CAP = 40


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: an equal-allocation cap of
    ``STRAT_CAP`` documents per language, chosen by md5-hash order —
    the training-mix balancing step (cap the head languages, keep the
    tail whole) of a corpus pipeline.

    Ordering by ``md5(doc_id)`` is a seedless pseudo-random permutation
    that both engines compute bitwise-identically, so the sample is
    stable across runs, cluster sizes, and row order — unlike
    ``df.sampleBy``, whose per-stratum Bernoulli draw depends on
    partition layout and gives only an *expected* count. At scale the
    rank window is per-stratum top-k: Spark's WindowGroupLimit inserts
    a per-partition local limit below the exchange, so each task ships
    at most ``STRAT_CAP`` rows per language instead of the full
    stratum.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= STRAT_CAP)
        .select("doc_id", "lang", "rk")
    )


SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) WHERE rk <= {STRAT_CAP}
"""


# Cross-document repeated-passage scrub: n-gram size and the "shared
# by at least this many distinct documents" threshold. n = 3 matches
# the repo's shingle convention and is the operating point where the
# fixture corpus (small vocabulary, 30-40-word docs) actually exhibits
# cross-document repetition; production substring-dedup runs longer
# grams (Lee et al. use 50 tokens) — the plan shape is identical, only
# the constants change.
SCRUB_NGRAM_N = 3
SCRUB_MIN_DOCS = 2


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage scrubbing: remove every token covered by an
    n-gram that appears in ≥ ``SCRUB_MIN_DOCS`` distinct documents —
    the within-corpus substring-deduplication pass (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"; the
    C4/FineWeb boilerplate-removal stage), approximating suffix-array
    exact-substring dedup with fixed-length n-gram coverage the way
    distributed pipelines actually run it.

    Returns per document: token count, number of scrubbed tokens, and
    the reconstructed text with covered spans removed. Fully
    deterministic — coverage is a pure function of the corpus, no RNG,
    no layout dependence (exact counts + position arithmetic only).

    Scale shape (round 8 — document-local rebuild): positional n-gram
    occurrences explode the token stream once (rows ∝ corpus tokens);
    the hot-gram table is a map-side-combinable count-distinct keyed
    on the gram (uniform hash-like keys, no skew); coverage is a
    semi-join of occurrences against hot grams whose surviving START
    positions are grouped per document (one doc_id shuffle carrying
    only the hot hits, a small fraction of corpus tokens). The scrub
    itself then happens INSIDE each document row: expand starts to
    covered positions, ``array_except(sequence(1, n_tok), covered)``
    (hash-set membership, linear), index back into the token array.
    Round 7 instead shuffled every corpus token THREE more times —
    covered-position ``distinct``, a (doc_id, pos) anti-join against a
    full ``posexplode`` of the corpus, and a ``collect_list`` rebuild
    — all corpus-token-sized exchanges that dominated the wall clock
    and would dominate worse at 100 TB (bench: 2.4 s → ~1.1 s at
    sf0.1). Nothing is ever |corpus|² and no state exceeds one
    document per task — the same budget as every other token-level
    transform here.
    """
    return passage_scrub(spread(load_table(spark, sf_dir, "documents")))


def _hot_covered_base(docs: DataFrame):
    """Shared front half of the substring-dedup family: tokenize,
    enumerate positional n-grams, find corpus-hot grams, and group the
    surviving START positions per document. Returns (base, joined)
    where ``base`` is (doc_id, tk) and ``joined`` is base ⟕ (doc_id,
    ps) — consumed by :func:`passage_scrub` (remove covered tokens)
    and :func:`q_dup_span_max` (measure the longest covered run)."""
    base = docs.select("doc_id", F.split(F.col("text"), " ").alias("tk"))
    # positional n-gram occurrences, 1-based start positions; the
    # slice(transform(...)) guard yields an EMPTY list for docs
    # shorter than n (Spark's sequence(1, 0) would count DOWN).
    # Grams are 64-bit xxhash64 of the n tokens (implicit seed 42), NOT
    # n-gram strings (r14, guide §2.3 — narrower shuffle keys): downstream is
    # equality-only (df count + hot semi-join), so the ~25-byte gram
    # text only ever inflated the two gram-keyed exchanges ~3×. Same
    # trade, convention, and collision arithmetic as
    # dedup_ngram_jaccard's hashed shingles (the oracle keeps string
    # grams; a cross-gram collision is ~N_grams²/2⁶⁵ ≈ 10⁻⁸ at 10⁶
    # distinct grams, and scrub output equality string-vs-hash is
    # pinned by pytest). Measured at sf0.1 min-of-5: scale lane
    # 3.65 → 2.71 s, base lane 2.51 → 2.38 s, outputs identical.
    # try_element_at, not element_at: the transform pads short docs
    # with one i=1 entry whose i+j indexes past the array end before
    # the outer slice discards it — element_at would throw
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT under a foreign ANSI session
    # (the Spark 4 default; ADVICE r14). try_element_at yields NULL
    # there instead; those NULL-fed grams exist only on rows the slice
    # guard drops, so output is unchanged (ANSI pytest pins it).
    _gram_args = ", ".join(
        f"try_element_at(tk, i + {j})" for j in range(SCRUB_NGRAM_N)
    )
    grams = F.expr(
        f"slice(transform(sequence(1, greatest(size(tk) - {SCRUB_NGRAM_N - 1}, 1)),"
        f" i -> struct(i AS p, xxhash64({_gram_args}) AS g)),"
        f" 1, greatest(size(tk) - {SCRUB_NGRAM_N - 1}, 0))"
    )
    occ = base.select("doc_id", F.explode(grams).alias("o")).select(
        "doc_id", F.col("o.p").alias("p"), F.col("o.g").alias("g")
    )
    # shuffle_hash hints on every explode-descended / corpus-sized
    # join side: Catalyst's size estimates ignore explode fan-out (they
    # carry the pre-Generate stat), so it would BROADCAST the hot-gram
    # table, the coverage set, and the per-doc aggregate — all of which
    # grow with the corpus (billions of grams at 100 TB: a driver OOM).
    # Same rule and rationale as dedup_ngram_jaccard's prefix join;
    # AQE still localizes genuinely small cases at runtime.
    hot = (
        occ.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= SCRUB_MIN_DOCS)
        .select("g")
        .hint("shuffle_hash")
    )
    # per-doc covered START positions (only the hot hits survive the
    # semi-join, so this doc_id shuffle carries a small fraction of
    # the corpus tokens — vs r7's three corpus-token-sized exchanges)
    starts = (
        occ.join(hot, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("ps"))
    )
    return base, base.join(starts.hint("shuffle_hash"), "doc_id", "left")


def passage_scrub(docs: DataFrame) -> DataFrame:
    """The scrub core behind :func:`q_dedup_passages` (docstring and
    scale notes there): ``docs`` needs columns (doc_id, text); returns
    (doc_id, n_tokens, n_scrubbed, scrubbed_text). Factored out so the
    planted-boilerplate recall test and the inflated-corpus bench lane
    (:func:`q_dedup_passages_scale`) run the EXACT production pipeline
    on their own corpora."""
    _base, joined = _hot_covered_base(docs)
    # document-local scrub: starts → covered positions (starts are
    # ≤ n_tok − n + 1, so p + n − 1 never exceeds n_tok), kept
    # positions via array_except (hash-set membership, order of the
    # first array preserved → ascending), tokens re-indexed in place
    cov_arr = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce("ps", F.expr("array()")),
                    lambda p: F.sequence(p, p + F.lit(SCRUB_NGRAM_N - 1)),
                )
            )
        )
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.size("tk")), cov_arr
    )
    return joined.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        (F.size("tk") - F.size(kept_pos)).cast("long").alias("n_scrubbed"),
        F.array_join(
            F.transform(kept_pos, lambda q: F.element_at("tk", q)), " "
        ).alias("scrubbed_text"),
    )


def _sql_passage_scrub(source: str = "documents") -> str:
    """The scrub oracle chain over an arbitrary (doc_id, text) source
    relation — ``documents`` for the graded lane, the corpus-prep
    survivors for the composed pipeline (one text ⇒ the standalone and
    composed scrubs can never drift)."""
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM {source}),
occ AS (
  SELECT doc_id,
         unnest(generate_series(1, greatest(len(tk) - {SCRUB_NGRAM_N - 1}, 0))) AS p,
         unnest([array_to_string(tk[i:i+{SCRUB_NGRAM_N - 1}], ' ')
                 for i in generate_series(1, greatest(len(tk) - {SCRUB_NGRAM_N - 1}, 0))]) AS g
  FROM t
),
hot AS (SELECT g FROM occ GROUP BY g HAVING COUNT(DISTINCT doc_id) >= {SCRUB_MIN_DOCS}),
cov AS (
  SELECT DISTINCT occ.doc_id, occ.p + dd.d AS pos
  FROM occ JOIN hot USING (g)
  CROSS JOIN (SELECT unnest(generate_series(0, {SCRUB_NGRAM_N - 1})) AS d) dd
),
toks AS (
  SELECT doc_id,
         unnest(generate_series(1, len(tk))) AS pos,
         unnest(tk) AS w
  FROM t
),
kept AS (
  SELECT toks.doc_id, toks.pos, toks.w
  FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc_id AND toks.pos = cov.pos
  WHERE cov.pos IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(w, ' ' ORDER BY pos) AS scrubbed_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       CAST(len(t.tk) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_scrubbed,
       COALESCE(a.scrubbed_text, '') AS scrubbed_text
FROM t LEFT JOIN agg a USING (doc_id)
"""


SQL_DEDUP_PASSAGES = _sql_passage_scrub()


# doc_id stride between inflated copies — far above any fixture's id
# range (int64 headroom: 4 copies × 2^40 ≪ 2^63), so copies never
# collide without paying a max(doc_id) job.
_PASSAGE_SCALE_COPIES = 4
_PASSAGE_SCALE_STRIDE = 1 << 40


def q_dedup_passages_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH_ONLY (VERDICT r7 #7): the substring-dedup pipeline over a
    4×-inflated corpus — the one Lee-et-al lane with no LSH twin
    benched. Inflation = union of doc_id-offset copies of the
    documents fixture, which multiplies every gram's document
    frequency by 4: the WORST case for the hot-gram table (every gram
    in every doc becomes corpus-hot, so the semi-join passes ~100% of
    occurrences and every per-doc covered-start set is maximal). The
    bench number tracks how the §76 document-local shape behaves when
    coverage saturates; correctness of the underlying operator is
    graded by ``dedup_passages``' full oracle, and recall on planted
    boilerplate is pinned by
    tests/test_operators.py::test_passage_scrub_planted_boilerplate_recall.
    """
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    # one scan + a 4-way explode beats a 4-branch union (which re-scans
    # the fixture per copy: measured 5.1 s vs ~3 s min-of-3 at sf0.1)
    big = d.select(
        "doc_id",
        "text",
        F.explode(
            F.array(
                *[
                    F.lit(i * _PASSAGE_SCALE_STRIDE)
                    for i in range(_PASSAGE_SCALE_COPIES)
                ]
            )
        ).alias("_off"),
    ).select((F.col("doc_id") + F.col("_off")).alias("doc_id"), "text")
    return passage_scrub(big)


def q_dup_span_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest duplicated span per document: the length (in tokens) of
    the longest CONSECUTIVE run of positions covered by corpus-hot
    n-grams, plus the total covered-token count — the memorization-risk
    statistic Lee et al. ("Deduplicating Training Data Makes Language
    Models Better") report as max duplicated substring length, and the
    triage metric that decides between document drop, passage scrub
    (``dedup_passages``), and keep.

    Shares the entire front half with the scrub
    (:func:`_hot_covered_base`): one gram explode, one hot-gram
    aggregation, one semi-join, one per-doc starts shuffle. The span
    statistic itself is DOCUMENT-LOCAL: covered starts expand to the
    sorted covered-position array, and one linear ``aggregate()`` pass
    tracks (prev, current-run, best) — no extra exchange, no window
    over corpus tokens (the DuckDB oracle uses the classic
    gaps-and-islands formulation over the exploded positions instead;
    identical semantics, set-based engine idiom).
    """
    _base, joined = _hot_covered_base(
        spread(load_table(spark, sf_dir, "documents"))
    )
    cov_arr = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce("ps", F.expr("array()")),
                    lambda p: F.sequence(p, p + F.lit(SCRUB_NGRAM_N - 1)),
                )
            )
        )
    )
    return joined.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        cov_arr.alias("cov"),
    ).select(
        "doc_id",
        "n_tokens",
        F.size("cov").cast("long").alias("n_covered"),
        # linear run-length scan: consecutive positions extend the
        # current run, anything else restarts it; empty array → 0
        F.expr(
            "aggregate(cov,"
            " struct(CAST(-2 AS INT) AS prev, 0 AS cur, 0 AS best),"
            " (acc, p) -> struct(p AS prev,"
            "   IF(p = acc.prev + 1, acc.cur + 1, 1) AS cur,"
            "   greatest(acc.best,"
            "            IF(p = acc.prev + 1, acc.cur + 1, 1)) AS best),"
            " acc -> acc.best)"
        )
        .cast("long")
        .alias("max_dup_span"),
    )


SQL_DUP_SPAN_MAX = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
occ AS (
  SELECT doc_id,
         unnest(generate_series(1, greatest(len(tk) - {SCRUB_NGRAM_N - 1}, 0))) AS p,
         unnest([array_to_string(tk[i:i+{SCRUB_NGRAM_N - 1}], ' ')
                 for i in generate_series(1, greatest(len(tk) - {SCRUB_NGRAM_N - 1}, 0))]) AS g
  FROM t
),
hot AS (SELECT g FROM occ GROUP BY g HAVING COUNT(DISTINCT doc_id) >= {SCRUB_MIN_DOCS}),
cov AS (
  SELECT DISTINCT occ.doc_id, occ.p + dd.d AS pos
  FROM occ JOIN hot USING (g)
  CROSS JOIN (SELECT unnest(generate_series(0, {SCRUB_NGRAM_N - 1})) AS d) dd
),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM cov
),
spans AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run
  FROM runs GROUP BY doc_id, isl
),
agg AS (
  SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_covered,
         CAST(MAX(run) AS BIGINT) AS max_dup_span
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       COALESCE(a.n_covered, 0) AS n_covered,
       COALESCE(a.max_dup_span, 0) AS max_dup_span
FROM t LEFT JOIN agg a USING (doc_id)
"""


def q_pipeline_fineweb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-corpus pipeline, FineWeb-shaped, end to
    end as one graded query: language gate → quality-score gate →
    exact dedup (lowest doc_id per text fingerprint) → deterministic
    train/test split (all = :func:`q_corpus_prep`) → repeated-passage
    scrub over the SURVIVING corpus (:func:`passage_scrub` — hot grams
    are recomputed on the post-filter corpus, which is the correct
    order: filtered-out boilerplate must not poison the hot-gram
    table). One row per surviving document with its mix metadata and
    its scrubbed text — the manifest a tokenizer run consumes.

    Every stage is an already-oracle-proven operator; the composition
    is graded through the same stages' SQL chained as CTEs over ONE
    shared text (``_sql_passage_scrub(source)``), so the standalone
    and composed lanes cannot drift. Scale shape: the prep stage is
    one payload-light shuffle (its docstring), the doc_id joins are
    shuffle_hash-pinned (both sides corpus-proportional), and the
    scrub keeps its §76 document-local rebuild.
    """
    kept = q_corpus_prep(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = kept.select("doc_id").join(
        docs.hint("shuffle_hash"), "doc_id"
    )
    scrub = passage_scrub(src)
    return kept.join(scrub.hint("shuffle_hash"), "doc_id").select(
        "doc_id",
        "lang",
        "quality_score",
        "split",
        "n_tokens",
        "n_scrubbed",
        "scrubbed_text",
    )


def _sql_pipeline_fineweb() -> str:
    # outer CTE names are fw_-prefixed: the embedded scrub chain
    # defines its own `kept` internally, and an outer CTE of the same
    # name makes DuckDB's resolution circular
    return f"""
WITH fw_kept AS ({SQL_CORPUS_PREP}),
fw_src AS (
  SELECT d.doc_id, d.text FROM documents d JOIN fw_kept USING (doc_id)
),
fw_scrub AS ({_sql_passage_scrub("fw_src")})
SELECT k.doc_id, k.lang, k.quality_score, k.split,
       s.n_tokens, s.n_scrubbed, s.scrubbed_text
FROM fw_kept k JOIN fw_scrub s USING (doc_id)
"""


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled training-mix weights per language — the
    number a multilingual data loader actually consumes: sampling
    probability w_l ∝ n_l^α over per-language token counts, here with
    α = 1/2 (temperature T = 2, the up-sample-the-tail convention of
    multilingual LM training; cf. the exponent-smoothed sampling in
    mBERT/XLM-R-style recipes). ``interleave_mix`` SCHEDULES a mix
    this operator COMPUTES.

    Determinism (the reason α is 1/2 and not 0.3): IEEE 754 requires
    sqrt to be correctly rounded, so sqrt(n_l) is the SAME double on
    every engine — a transcendental pow(x, 0.3) is not and would
    drift cross-engine by an ulp. The sqrt is quantized to integer
    micro-units half-up (its double is irrational-valued except for
    perfect squares, so it never sits on a rounding midpoint), summed
    exactly in int64, and the final ratio runs through the
    fixed-point quotient (``functions.numeric.fp_ratio``) — no
    decimal→double midpoint class anywhere (SCALE.md §34).

    Scale: one map-side-combinable groupBy(lang) over the corpus scan
    (the ONLY data-sized stage), then arithmetic on a
    languages-sized frame with a broadcast 1-row total.
    """
    from ..functions.numeric import fp_ratio

    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    s = n.withColumn(
        "su",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000, 0).cast(
            "long"
        ),
    )
    tot = s.agg(F.sum("su").alias("tot"))
    return s.crossJoin(tot).select(
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        fp_ratio(F.col("su") * F.lit(1_000_000), F.col("tot"), 6).alias(
            "weight"
        ),
    )


SQL_MIX_WEIGHTS = """
WITH n AS (
  SELECT lang, SUM(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY lang
),
s AS (
  SELECT lang, n_tokens,
         CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS su
  FROM n
),
t AS (SELECT SUM(su) AS tot FROM s)
SELECT s.lang, CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST((2 * (su * 1000000) + tot) // (2 * tot) AS DOUBLE) / 1000000.0
         AS weight
FROM s, t
"""


DSIR_BUCKETS = 64  # hashed-feature dimensionality (Xie et al. use 10^4; 64 keeps the fixture's buckets dense)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.,
    NeurIPS'23 — Data Selection via Importance Resampling): score every
    document by how target-like its hashed-token distribution is,
    log w(doc) = Σ_tokens [log2 p_target(bucket) − log2 p_raw(bucket)],
    where the target distribution is trained on the English slice (the
    classic formal-text-vs-crawl setup) and the raw distribution on the
    whole corpus. ``keep`` = the doc looks more target- than raw-like
    (positive total log-ratio); ``mix_weights`` balances a corpus BY
    GROUP, this selects WITHIN one by content.

    Determinism: tokens hash to {buckets} buckets via the md5-mod rule
    (``shard_manifest``'s engine-neutral hash — a pure function of the
    token, so layout-independent); each bucket's log-ratio collapses to
    ONE log2 of one exact int64→double ratio
    ((t_b+1)·(R+{buckets})) / ((r_b+1)·(T+{buckets})) — add-one
    smoothing, products < 2^53 — micro-quantized under the
    ``lm_unigram_score`` rule, then summed exactly in int64 per doc.
    The final avg is a single unrounded double division of two exact
    int64s (correctly rounded IEEE, bitwise cross-engine — no ROUND
    step, so no midpoint class to defend).

    Scale shape: the token scan feeds (a) one map-side-combinable
    groupBy on the {buckets}-row bucket space (twice: raw + target — a
    conditional count, same shuffle) and (b) the per-doc aggregation
    (the floor for any per-doc score). The λ table is {buckets} rows —
    broadcast by construction at ANY corpus size, the
    ``vocab_coverage`` bounded-side rule. No corpus-proportional
    broadcast, no quadratic stage.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("w"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5("w"), 1, 6), 16, 10).cast("long"),
            F.lit(DSIR_BUCKETS),
        ).alias("bucket"),
    )
    counts = toks.groupBy("bucket").agg(
        F.count("*").alias("r"),
        F.sum((F.col("lang") == "en").cast("long")).alias("t"),
    )
    tot = toks.agg(
        F.count("*").alias("n_raw"),
        F.sum((F.col("lang") == "en").cast("long")).alias("n_tgt"),
    )
    lam = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log2(
                ((F.col("t") + 1) * (F.col("n_raw") + DSIR_BUCKETS)).cast(
                    "double"
                )
                / ((F.col("r") + 1) * (F.col("n_tgt") + DSIR_BUCKETS)).cast(
                    "double"
                )
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("micro_lam"),
    )
    return (
        toks.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("micro_lam").alias("micro_logratio"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "micro_logratio",
            (
                F.col("micro_logratio").cast("double")
                / F.col("n_tokens").cast("double")
                / F.lit(1_000_000.0)
            ).alias("avg_logratio"),
            (F.col("micro_logratio") > 0).alias("keep"),
        )
    )


q_dsir_weights.__doc__ = q_dsir_weights.__doc__.format(buckets=DSIR_BUCKETS)


SQL_DSIR_WEIGHTS = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(list_sum(list_transform(range(1, 7), i ->
           (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)
           * 16 ^ (6 - i))) AS BIGINT) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents)
),
counts AS (
  SELECT bucket, COUNT(*) AS r,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t
  FROM toks GROUP BY bucket
),
tot AS (
  SELECT COUNT(*) AS n_raw,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tgt
  FROM toks
),
lam AS (
  SELECT bucket,
         CAST(ROUND(log2(
                CAST((t + 1) * (n_raw + {DSIR_BUCKETS}) AS DOUBLE)
              / CAST((r + 1) * (n_tgt + {DSIR_BUCKETS}) AS DOUBLE))
              * 1000000, 0) AS BIGINT) AS micro_lam
  FROM counts CROSS JOIN tot
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(micro_lam) AS BIGINT) AS micro_logratio
  FROM toks JOIN lam USING (bucket)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, micro_logratio,
       CAST(micro_logratio AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
         AS avg_logratio,
       micro_logratio > 0 AS keep
FROM agg
"""


BUDGET_DENOM = 4       # select into a 25%-of-corpus token budget
BUDGET_BUCKET = 100_000  # micro-score units per prefix-sum bucket


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection — the cut every training-data
    pipeline runs last: rank documents by a quality score and keep the
    best prefix whose cumulative token count fits the budget (here
    {denom_inv} of the corpus; the score is the distinct-word ratio, a
    self-contained repetition-quality proxy — swap in
    ``quality_classifier`` or ``dsir_weights`` scores unchanged).

    The naive form is a single-partition running sum over the global
    (score DESC, doc_id) order — a one-task stage at any scale. This
    runs the ``skyline_frontier`` two-phase decomposition instead: the
    fixed-point score quantizes into ≤ 11 coarse buckets (micro-score
    div {bucket} — a BOUNDED key space since the ratio lives in
    [0, 1e6]), the running sum is per-bucket (parallel, each task
    streams), and a broadcast ≤ 11-row carry table adds the strictly-
    higher buckets' token totals. cum_tokens is identical to the
    global-window answer (the oracle computes it THAT way — one plain
    SQL window — so the equivalence is hash-checked, not argued).

    Determinism: the score is the midpoint-free fixed-point quotient
    (half-up int division of exact int64s), the order
    (micro_score DESC, doc_id) is total, and cum/budget are exact
    int64 — no float anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("t"),
        F.size(F.array_distinct(toks)).cast("long").alias("dw"),
    ).select(
        "doc_id",
        "t",
        F.expr("(2 * dw * 1000000 + t) div (2 * t)").alias("micro_score"),
    )
    tot = scored.agg(F.sum("t").alias("n_total"))
    b = scored.withColumn(
        "bucket", F.expr(f"micro_score div {BUDGET_BUCKET}")
    )
    # carry: token totals of strictly higher buckets (≤ 11 rows, so
    # the ordered window over it is bounded, not corpus-sized)
    wb = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        b.groupBy("bucket")
        .agg(F.sum("t").alias("bt"))
        .select(
            "bucket",
            F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("carry"),
        )
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("micro_score"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.withColumn("running", F.sum("t").over(w))
        .join(F.broadcast(carry), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("t").alias("n_tokens"),
            "micro_score",
            (F.col("carry") + F.col("running")).alias("cum_tokens"),
            (
                F.col("carry") + F.col("running")
                <= F.expr(f"n_total div {BUDGET_DENOM}")
            ).alias("selected"),
        )
    )


q_token_budget_select.__doc__ = q_token_budget_select.__doc__.format(
    denom_inv=f"1/{BUDGET_DENOM}", bucket=BUDGET_BUCKET
)


SQL_TOKEN_BUDGET_SELECT = f"""
WITH s AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS dw
  FROM documents
),
sc AS (
  SELECT doc_id, t, (2 * dw * 1000000 + t) // (2 * t) AS micro_score
  FROM s
),
tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n_total FROM sc),
c AS (
  SELECT doc_id, t, micro_score,
         CAST(SUM(t) OVER (ORDER BY micro_score DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM sc
)
SELECT doc_id, t AS n_tokens,
       CAST(micro_score AS BIGINT) AS micro_score,
       cum_tokens,
       cum_tokens <= n_total // {BUDGET_DENOM} AS selected
FROM c CROSS JOIN tot
"""


BPE_ROUNDS = 5


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style tokenizer-vocabulary induction: the first {rounds}
    pair-merge rules learned from the corpus (Sennrich et al., ACL'16
    — the training loop behind BPE/wordpiece vocabularies). Each round
    elects the most frequent adjacent symbol pair (occurrence-weighted,
    ties broken on the pair string so the choice is total) and fuses
    it into one symbol before the next count.

    Execution shape is the textbook scale trick: training runs on the
    WORD HISTOGRAM, not the corpus — one corpus-sized count shuffle up
    front, then every round touches only the distinct-word table
    (vocabulary-sized, cached for the loop and released after) with
    pair counts weighted by word frequency. The per-round "model" that
    reaches the driver is ONE row (the winning pair). Symbols are kept
    space-delimited; the merge is a literal leftmost-non-overlapping
    replace, identical on both engines (an immediately-repeated pair
    keeps its second occurrence for a later round — deterministic, and
    the same rule on both sides). Char splitting is per code point on
    the ASCII fixture corpus (the UTF-16 vs codepoint indexing caveat
    is out of scope and documented).
    """
    merges, base, _ = _bpe_learn(spark, sf_dir)
    base.unpersist()
    return local_frame(
        spark, merges, "merge_rank long, pair string, merged string, n long"
    )


q_bpe_merges.__doc__ = q_bpe_merges.__doc__.format(rounds=BPE_ROUNDS)


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """The shared training loop: returns (merge rules, the persisted
    (w, s, wn) word-form frame, the fully-merged symbol-string column
    over it). The CALLER owns the returned frame's persist — unpersist
    once the derived result is materialized (or immediately, if only
    the rules are needed; lineage stays valid either way)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wn"))
    )
    base = words.select(
        "w",
        F.concat(
            F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")
        ).alias("s"),
        "wn",
    ).persist()
    merges = []
    s_col = F.col("s")
    for rank in range(1, BPE_ROUNDS + 1):
        sym = F.split(F.trim(s_col), " ")
        idx = F.when(
            F.size(sym) >= 2, F.sequence(F.lit(1), F.size(sym) - 1)
        ).otherwise(F.array().cast("array<int>"))
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                F.element_at(sym, i.cast("int")),
                F.element_at(sym, (i + 1).cast("int")),
            ),
        )
        top = (
            base.select(F.explode(grams).alias("gram"), "wn")
            .groupBy("gram")
            .agg(F.sum("wn").alias("n"))
            .orderBy(F.desc("n"), "gram")
            .limit(1)
            .collect()  # the round's model: ONE row
        )
        if not top:
            break
        pair, n = top[0].gram, top[0].n
        merges.append((rank, pair, pair.replace(" ", ""), n))
        s_col = F.replace(
            s_col,
            F.lit(f" {pair} "),
            F.lit(f" {pair.replace(' ', '')} "),
        )
    return merges, base, s_col


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize with the learned tokenizer — the inference half of
    :func:`q_bpe_merges`, and the op every training pipeline runs to
    budget a corpus in tokens: per document, the word count, the
    pre-merge symbol (character) count, and the post-merge BPE token
    count under the {rounds} learned rules, plus the fixed-point
    chars-per-token compression ratio.

    Scale shape: the merged symbol form is computed ONCE per DISTINCT
    word (the same vocabulary-sized frame the trainer used — at 100 TB
    this is the difference between re-segmenting every occurrence and
    a vocabulary-table lookup); the corpus-sized work is one token
    explode joined to that word table (shuffle_hash-pinned — the word
    table is vocabulary-proportional, not broadcastable) and one
    per-document combinable aggregation.
    """
    from ..functions.numeric import fp_ratio

    _, base, s_col = _bpe_learn(spark, sf_dir)
    word_sym = base.select(
        "w",
        F.length(F.replace(F.trim(s_col), F.lit(" "), F.lit(""))).cast(
            "long"
        ).alias("n_chars_w"),
        F.size(F.split(F.trim(s_col), " ")).cast("long").alias("n_sym_w"),
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    out = (
        toks.join(word_sym.hint("shuffle_hash"), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_chars_w").alias("n_chars"),
            F.sum("n_sym_w").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            fp_ratio(
                F.col("n_chars") * 1_000_000, F.col("n_bpe_tokens"), 6
            ).alias("chars_per_token"),
        )
    )
    base.unpersist()  # lineage stays valid; cache only served the loop
    return out


q_bpe_apply.__doc__ = q_bpe_apply.__doc__.format(rounds=BPE_ROUNDS)


def _sql_bpe_merges() -> str:
    """The oracle's CTE-chain replication: same word histogram, same
    per-round weighted pair election on the (n DESC, pair ASC) total
    order, same literal space-delimited merge."""
    parts = [
        r"""
WITH w AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wn FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
s0 AS (
  SELECT w, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s, wn FROM w
)"""
    ]
    for i in range(1, BPE_ROUNDS + 1):
        parts.append(
            f""",
p{i} AS (
  SELECT gram, CAST(SUM(wn) AS BIGINT) AS n FROM (
    SELECT unnest([sym[i] || ' ' || sym[i + 1]
                   for i in generate_series(1, len(sym) - 1)]) AS gram,
           wn
    FROM (SELECT string_split(trim(s), ' ') AS sym, wn FROM s{i - 1})
  ) GROUP BY gram
),
t{i} AS (SELECT gram, n FROM p{i} ORDER BY n DESC, gram LIMIT 1),
s{i} AS (
  SELECT s.w, replace(s.s, ' ' || t.gram || ' ',
                 ' ' || replace(t.gram, ' ', '') || ' ') AS s, s.wn
  FROM s{i - 1} s CROSS JOIN t{i} t
)"""
        )
    selects = [
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, gram AS pair, "
        f"replace(gram, ' ', '') AS merged, n FROM t{i}"
        for i in range(1, BPE_ROUNDS + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


SQL_BPE_MERGES = _sql_bpe_merges()


def _sql_bpe_apply() -> str:
    """Oracle for :func:`q_bpe_apply`: the same learned chain (shared
    generator up to the final SELECT), then per-word symbol counts on
    the fully-merged form joined back to the per-document token
    stream."""
    chain = SQL_BPE_MERGES[: SQL_BPE_MERGES.rindex("\nSELECT CAST(1 AS")]
    return f"""{chain},
ws AS (
  SELECT w,
         CAST(length(replace(trim(s), ' ', '')) AS BIGINT) AS n_chars_w,
         CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym_w
  FROM s{BPE_ROUNDS}
),
toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
),
g AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(ws.n_chars_w) AS BIGINT) AS n_chars,
         CAST(SUM(ws.n_sym_w) AS BIGINT) AS n_bpe_tokens
  FROM toks JOIN ws ON toks.w = ws.w
  GROUP BY doc_id
)
SELECT doc_id, n_words, n_chars, n_bpe_tokens,
       CAST((2 * n_chars * 1000000 + n_bpe_tokens)
            // (2 * n_bpe_tokens) AS DOUBLE) / 1000000.0 AS chars_per_token
FROM g
"""


SQL_BPE_APPLY = _sql_bpe_apply()


NUM_SHARDS = 16
# 12 hex digits = 48 bits: the per-doc fingerprint integer is exact in
# a double on both engines (< 2^53), so the DuckDB mirror can rebuild
# it with double powers and CAST once — same reasoning as
# relational6._HEX_DENOM, widened from 24 to 48 bits because the XOR
# below wants collision-resistant content checksums, not sample keys.
_FP_HEX_DIGITS = 12


def _fp48(col) -> "F.Column":
    """48-bit content fingerprint: first 12 hex digits of md5 as int64."""
    return F.conv(F.substring(F.md5(col), 1, _FP_HEX_DIGITS), 16, 10).cast(
        "long"
    )


def _sql_fp48(expr: str) -> str:
    """DuckDB mirror of :func:`_fp48` — digit-by-digit hex decode with
    double powers (exact below 2^53), CAST to BIGINT once."""
    return (
        "CAST(list_sum(list_transform(range(1, 13), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1) "
        "* 16 ^ (12 - i))) AS BIGINT)"
    )


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + per-shard manifest —
    the artifact a data loader (and a resumable exporter) keys on:
    shard = md5(doc_id) mod {shards} (a pure function of row values, so
    the layout is identical on any cluster size, engine, or re-run —
    the SCALE.md §20 rule), and per shard the doc count, char/token
    volume, id range, and an ORDER-INDEPENDENT content checksum (XOR of
    48-bit md5 fingerprints — XOR is commutative/associative, so the
    checksum is stable under any partial-aggregation order, the same
    property the decimal sums buy for ``dsum``).

    At 100 TB this is the export manifest: writers stream each shard
    independently, the XOR checksum verifies a re-export bitwise
    without re-reading peers, and appending a shard leaves the other
    manifests untouched. One map-side-combinable groupBy on a
    {shards}-row key space — the scan is the whole cost.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
            ).cast("long"),
            F.lit(NUM_SHARDS),
        ).alias("shard"),
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        _fp48(F.col("text")).alias("fp"),
    )
    return keyed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.expr("bit_xor(fp)").alias("xor_fp"),
    )


q_shard_manifest.__doc__ = q_shard_manifest.__doc__.format(shards=NUM_SHARDS)


SQL_SHARD_MANIFEST = f"""
WITH keyed AS (
  SELECT CAST(list_sum(list_transform(range(1, 7), i ->
           (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
           * 16 ^ (6 - i))) AS BIGINT) % {NUM_SHARDS} AS shard,
         doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {_sql_fp48('text')} AS fp
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id,
       bit_xor(fp) AS xor_fp
FROM keyed GROUP BY shard
"""


LEN_BUCKET_WIDTH = 16  # tokens per length bucket
LEN_BATCH_SIZE = 16    # documents per batch
LEN_MAX_BUCKET = 7     # buckets 0..7; the tail bucket is open-ended


def q_batch_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch composition with padding-efficiency
    accounting — the dynamic-batching step between a tokenized corpus
    and a trainer: documents are bucketed by token count (width
    {width}, tail open past bucket {maxb}), ordered WITHIN each bucket
    by the value-derived md5 shuffle key (seedless, layout-independent
    — the ``sample_split`` rule), and cut into batches of {bsz}. Each
    output row is one batch's manifest: size, token min/max/sum, and
    the fixed-point padding fraction 1 - sum/(n·max) — the fraction of
    a padded batch tensor that is waste, the number length-bucketing
    exists to minimize (``seq_pack`` is the concat-packing alternative;
    this is the padded-batch one).

    Scale shape: one window shuffle partitioned by bucket (bounded key
    space, but each partition streams — per-task state is O(1) for
    row_number), one map-side-combinable groupBy on (bucket, batch).
    The padding fraction goes through the midpoint-free fixed-point
    quotient.
    """
    from ..functions.numeric import fp_ratio

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    bucket = F.least(
        F.floor(F.col("n_tokens") / LEN_BUCKET_WIDTH), F.lit(LEN_MAX_BUCKET)
    ).cast("long")
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    batched = (
        toks.withColumn("bucket", bucket)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("batch_id", F.expr(f"(rn - 1) div {LEN_BATCH_SIZE}"))
    )
    cap = F.col("n_in_batch") * F.col("max_tokens")
    return (
        batched.groupBy("bucket", "batch_id")
        .agg(
            F.count("*").alias("n_in_batch"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "batch_id",
            "n_in_batch",
            "min_tokens",
            "max_tokens",
            "sum_tokens",
            fp_ratio(
                (cap - F.col("sum_tokens")) * 1_000_000, cap, 6
            ).alias("padding_frac"),
        )
    )


q_batch_by_length.__doc__ = q_batch_by_length.__doc__.format(
    width=LEN_BUCKET_WIDTH, maxb=LEN_MAX_BUCKET, bsz=LEN_BATCH_SIZE
)


SQL_BATCH_BY_LENGTH = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         LEAST(n_tokens // {LEN_BUCKET_WIDTH}, {LEN_MAX_BUCKET}) AS bucket
  FROM t
),
r AS (
  SELECT bucket, n_tokens,
         (row_number() OVER (PARTITION BY bucket
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          - 1) // {LEN_BATCH_SIZE} AS batch_id
  FROM b
),
g AS (
  SELECT bucket, batch_id, COUNT(*) AS n_in_batch,
         MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
  FROM r GROUP BY bucket, batch_id
)
SELECT bucket, batch_id, n_in_batch, min_tokens, max_tokens, sum_tokens,
       CAST((2 * (n_in_batch * max_tokens - sum_tokens) * 1000000
             + n_in_batch * max_tokens)
            // (2 * n_in_batch * max_tokens) AS DOUBLE) / 1000000.0
         AS padding_frac
FROM g
"""


# --------------------------------------------------------------------
# bootstrap_ci_mean
# --------------------------------------------------------------------

BOOT_B = 40  # bootstrap replicates

# Poisson(1) inverse CDF as a ladder of 8-hex-digit thresholds
# (floor(CDF·2³²) of k = 0..7; mass beyond 7 is ~1.02e-8 and maps to
# w = 8): u is the md5 hex prefix of (key, replicate), and fixed-width
# lowercase-hex string comparison IS unsigned numeric comparison, so
# the ladder is pure string CASEs — bitwise identical cross-engine
# (the sample_split md5 trick extended from one threshold to a CDF).
_POIS_CUM = (
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
    "ff1025f5", "ffd90f3b", "fffa8b71", "ffff540c",
)


def _pois_w_expr(u_col: str) -> str:
    branches = " ".join(
        f"WHEN {u_col} < '{t}' THEN {k}" for k, t in enumerate(_POIS_CUM)
    )
    return f"CASE {branches} ELSE 8 END"


# type-1 quantile ranks of the replicate distribution (the declared
# convention): lo = ceil(0.025·B), hi = ceil(0.975·B)
BOOT_LO_RANK = -(-25 * BOOT_B // 1000)
BOOT_HI_RANK = -(-975 * BOOT_B // 1000)

# ADVICE r13: the rank selection scales to the EFFECTIVE replicate
# count ``nrep`` (sw = 0 / empty-arm replicates drop out of the
# window): lo = ceil(0.025·n), hi = ceil(0.975·n) as exact integer
# ceil divisions. At the full window n = B = 40 these equal
# BOOT_LO_RANK/BOOT_HI_RANK (1 and 39); for ANY n ≥ 1 both ranks
# exist and lo ≤ hi, so a short window (tiny groups at sf0.001 can
# lose 2+ of the 40 replicates) can never yield the degenerate
# NULL-hi / min-lo interval the fixed ranks produced. Parameterized
# {div} — Spark `div` vs DuckDB `//` — like every house division.
BOOT_LO_SEL = "(25 * nrep + 999) {div} 1000"
BOOT_HI_SEL = "(975 * nrep + 999) {div} 1000"

# Replicate mean in micro-dollars: the midpoint-free half-up integer
# division (2·10⁴·swc + sw) div (2·sw) on decimal(38,0) ↔ HUGEINT
# (the _COMM_TRANS_EXPR house form; half-up == half-away on the
# non-negative operands here). ADVICE r12: the earlier double-ROUND
# form was deterministic and cross-engine identical but left exact
# integer arithmetic once 10⁴·swc crossed 2^53 (~sf0.1 already); this
# form never leaves the exact integer domain.
_BOOT_MEAN_EXPR = (
    "CASE WHEN sw = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(10000 AS {big}) * CAST(swc AS {big}) + sw)"
    " {div} (2 * CAST(sw AS {big})) AS BIGINT) END"
)


def q_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic one-pass Poisson bootstrap CI for the mean order
    price per order status — the uncertainty quantification a
    threshold-tuning pipeline needs next to the point estimates every
    aggregate lane reports: a mean without a CI cannot say whether
    two slices differ. The classical resample-n-rows bootstrap cannot
    run on a cluster (n draws WITH replacement need global
    coordination); the POISSON bootstrap (Chamandy, Muralidharan &
    Wager, "Estimating Uncertainty for Massive Data Streams",
    Google 2012) replaces each replicate's multinomial with
    independent per-row Poisson(1) weights — one pass, map-side
    combinable, and embarrassingly parallel in (group, replicate).

    Determinism is the engineering contribution (the ``sample_split``
    rule extended): the replicate-b weight of a row is the Poisson(1)
    inverse CDF evaluated at u = md5(key:b) — a pure per-row
    function of the stable key, so the CI is identical across runs,
    cluster sizes, row orders, AND engines (md5 is standardized; the
    CDF ladder compares fixed-width lowercase hex strings, which
    orders exactly like the underlying 32-bit integer). No ``rand()``
    anywhere — a seeded ``rand()`` bootstrap is partition-layout-
    dependent and could never be oracle-checked.

    Exactness: prices quantize to exact int64 cents BEFORE weighting
    (the bal-band rule); per-(status, b) Σw·cents runs decimal ↔
    HUGEINT; each replicate mean is ONE pinned micro division
    (micro-dollars) in the midpoint-free half-up integer form
    (2·10⁴·swc + sw) div (2·sw) — never leaving exact integer
    arithmetic, so the 2^53 double bound is irrelevant (ADVICE
    r12); the CI bounds are TYPE-1 QUANTILES of the ≤ B
    quantized replicate means — rank selection over a bounded
    window, ties broken by replicate id, so the bounds are picked,
    never interpolated. An empty replicate (Σw = 0, probability
    e^(−n) — unreachable at fixture sizes, guarded anyway) is NULL
    and excluded from the ranking; ``n_replicates`` reports the
    effective count.

    Scale shape: one explode ×B (the Poisson bootstrap's documented
    cost — at 100 TB this is B map-side-combined counters per group,
    shuffle volume |groups|·B regardless of input), one combinable
    (status, b) aggregate, then a ≤ B-row per-group window for the
    rank selection. Zero joins, zero broadcasts.
    """
    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    reps = spark.sql(f"SELECT * FROM VALUES {b_lit} AS t(b)")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"
    rows = o.crossJoin(F.broadcast(reps)).withColumn(
        "u",
        F.expr(
            "substring(md5(concat(CAST(o_orderkey AS STRING), ':',"
            " CAST(b AS STRING))), 1, 8)"
        ),
    ).withColumn("w", F.expr(_pois_w_expr("u")).cast("long"))
    g = rows.groupBy("status", "b").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w").cast(dec) * F.col("cents")).cast(dec).alias("swc"),
    )
    g = g.withColumn(
        "mean_micro", F.expr(_BOOT_MEAN_EXPR.format(big=dec, div="div"))
    ).where(F.col("mean_micro").isNotNull())
    win = Window.partitionBy("status").orderBy("mean_micro", "b")
    ranked = g.withColumn("rn", F.row_number().over(win)).withColumn(
        "nrep", F.count("*").over(Window.partitionBy("status"))
    )
    lo_sel, hi_sel = BOOT_LO_SEL.format(div="div"), BOOT_HI_SEL.format(div="div")
    return ranked.groupBy("status").agg(
        F.count("*").alias("n_replicates"),
        F.max(
            F.when(F.col("rn") == F.expr(lo_sel), F.col("mean_micro"))
        ).alias("ci_lo_micro"),
        F.max(
            F.when(F.col("rn") == F.expr(hi_sel), F.col("mean_micro"))
        ).alias("ci_hi_micro"),
    )


def _sql_bootstrap_ci_mean() -> str:
    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    return f"""
WITH reps AS (SELECT * FROM (VALUES {b_lit}) AS t(b)),
o AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
rows_w AS (
  SELECT status, b, cents,
         {_pois_w_expr(
             "substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||"
             " CAST(b AS VARCHAR)), 1, 8)"
         )} AS w
  FROM o CROSS JOIN reps
),
g AS (
  SELECT status, b,
         CAST(SUM(w) AS BIGINT) AS sw,
         SUM(CAST(w AS HUGEINT) * cents) AS swc
  FROM rows_w GROUP BY status, b
),
m AS (
  SELECT status, b,
         {_BOOT_MEAN_EXPR.format(big="HUGEINT", div="//")} AS mean_micro
  FROM g
),
r AS (
  SELECT status, b, mean_micro,
         row_number() OVER (PARTITION BY status
                            ORDER BY mean_micro, b) AS rn,
         COUNT(*) OVER (PARTITION BY status) AS nrep
  FROM m WHERE mean_micro IS NOT NULL
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_replicates,
       MAX(CASE WHEN rn = {BOOT_LO_SEL.format(div="//")} THEN mean_micro END)
         AS ci_lo_micro,
       MAX(CASE WHEN rn = {BOOT_HI_SEL.format(div="//")} THEN mean_micro END)
         AS ci_hi_micro
FROM r GROUP BY status
"""


SQL_BOOTSTRAP_CI_MEAN = _sql_bootstrap_ci_mean()


# --------------------------------------------------------------------
# bootstrap_ci_ratio
# --------------------------------------------------------------------

# Replicate share / plain share in micro-units: the same exact
# half-up integer-division form as _BOOT_MEAN_EXPR (ADVICE r12 —
# these operands stay inside int64 at fixture scale, but the {big}
# cast keeps the expression exact to 100 TB group sizes too).
_BOOT_RATIO_EXPR = (
    "CASE WHEN sw = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(swu AS {big}) + sw)"
    " {div} (2 * CAST(sw AS {big})) AS BIGINT) END"
)
_PLAIN_SHARE_EXPR = (
    "CAST((2 * CAST(1000000 AS {big}) * CAST(n_urgent AS {big})"
    " + n_orders) {div} (2 * CAST(n_orders AS {big})) AS BIGINT)"
)


def q_bootstrap_ci_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap CI for a RATIO — the
    urgent-order share per order status. The ratio estimator is
    where the bootstrap earns its keep: a share of a RANDOM
    denominator has no exact closed-form CI (the normal
    approximation needs the delta method and breaks near 0/1), while
    the Poisson bootstrap handles it for free — each replicate's
    share is Σw·1[urgent]/Σw over the same per-row Poisson(1)
    weights, and the replicate distribution IS the sampling
    distribution estimate. Same machinery as ``bootstrap_ci_mean``
    (the md5 CDF ladder, type-1 rank selection over the B = 40
    replicate window) with an INDEPENDENT weight stream (the hash
    key carries an ``r:`` salt, so the two lanes' resamples are
    uncorrelated). Output adds the plain point estimate
    (``share_micro``) so the CI can be read against it directly; a
    pytest asserts lo ≤ share ≤ hi.

    Exactness: the weighted numerator and denominator are exact
    int64 sums (w ≤ 8, indicator ≤ 1); each replicate share is ONE
    pinned micro division in the midpoint-free half-up integer form
    (2·10⁶·swu + sw) div (2·sw); the plain share likewise; bounds
    are picked by rank, never interpolated. Scale shape identical to
    the mean lane: broadcast ×B explode, one combinable (status, b)
    aggregate, the bounded rank window. Zero data joins.
    """
    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    reps = spark.sql(f"SELECT * FROM VALUES {b_lit} AS t(b)")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("u"),
    )
    plain = o.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        F.sum("u").alias("n_urgent"),
    )
    rows = o.crossJoin(F.broadcast(reps)).withColumn(
        "uh",
        F.expr(
            "substring(md5(concat('r:', CAST(o_orderkey AS STRING), ':',"
            " CAST(b AS STRING))), 1, 8)"
        ),
    ).withColumn("w", F.expr(_pois_w_expr("uh")).cast("long"))
    g = rows.groupBy("status", "b").agg(
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("u")).alias("swu"),
    )
    g = g.withColumn(
        "ratio_micro",
        F.expr(_BOOT_RATIO_EXPR.format(big="decimal(38,0)", div="div")),
    ).where(F.col("ratio_micro").isNotNull())
    win = Window.partitionBy("status").orderBy("ratio_micro", "b")
    ranked = g.withColumn("rn", F.row_number().over(win)).withColumn(
        "nrep", F.count("*").over(Window.partitionBy("status"))
    )
    lo_sel, hi_sel = BOOT_LO_SEL.format(div="div"), BOOT_HI_SEL.format(div="div")
    ci = ranked.groupBy("status").agg(
        F.count("*").alias("n_replicates"),
        F.max(
            F.when(F.col("rn") == F.expr(lo_sel), F.col("ratio_micro"))
        ).alias("ci_lo_micro"),
        F.max(
            F.when(F.col("rn") == F.expr(hi_sel), F.col("ratio_micro"))
        ).alias("ci_hi_micro"),
    )
    return ci.join(F.broadcast(plain), "status").select(
        "status",
        "n_orders",
        "n_urgent",
        F.expr(
            _PLAIN_SHARE_EXPR.format(big="decimal(38,0)", div="div")
        ).alias("share_micro"),
        "n_replicates",
        "ci_lo_micro",
        "ci_hi_micro",
    )


def _sql_bootstrap_ci_ratio() -> str:
    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    return f"""
WITH reps AS (SELECT * FROM (VALUES {b_lit}) AS t(b)),
o AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders
),
plain AS (
  SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(u) AS BIGINT) AS n_urgent
  FROM o GROUP BY status
),
rows_w AS (
  SELECT status, b, u,
         {_pois_w_expr(
             "substr(md5('r:' || CAST(o_orderkey AS VARCHAR) || ':' ||"
             " CAST(b AS VARCHAR)), 1, 8)"
         )} AS w
  FROM o CROSS JOIN reps
),
g AS (
  SELECT status, b,
         CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(w * u) AS BIGINT) AS swu
  FROM rows_w GROUP BY status, b
),
m AS (
  SELECT status, b,
         {_BOOT_RATIO_EXPR.format(big="HUGEINT", div="//")} AS ratio_micro
  FROM g
),
r AS (
  SELECT status, b, ratio_micro,
         row_number() OVER (PARTITION BY status
                            ORDER BY ratio_micro, b) AS rn,
         COUNT(*) OVER (PARTITION BY status) AS nrep
  FROM m WHERE ratio_micro IS NOT NULL
),
ci AS (
  SELECT status,
         CAST(COUNT(*) AS BIGINT) AS n_replicates,
         MAX(CASE WHEN rn = {BOOT_LO_SEL.format(div="//")} THEN ratio_micro END)
           AS ci_lo_micro,
         MAX(CASE WHEN rn = {BOOT_HI_SEL.format(div="//")} THEN ratio_micro END)
           AS ci_hi_micro
  FROM r GROUP BY status
)
SELECT ci.status, n_orders, n_urgent,
       {_PLAIN_SHARE_EXPR.format(big="HUGEINT", div="//")} AS share_micro,
       n_replicates, ci_lo_micro, ci_hi_micro
FROM ci JOIN plain ON ci.status = plain.status
"""


SQL_BOOTSTRAP_CI_RATIO = _sql_bootstrap_ci_ratio()


# --------------------------------------------------------------------
# bootstrap_ci_quantile
# --------------------------------------------------------------------

# Weighted type-1 quantile rank: the smallest value whose cumulative
# weight reaches ceil(p·Σw); for the median thr = ceil(Σw/2) =
# (Σw + 1) div 2 — pure integer arithmetic, engine-parameterized.
_BOOT_Q_THR = "cw >= (sw + 1) {div} 2"
_PLAIN_Q_THR = "cn >= (n_orders + 1) {div} 2"


def q_bootstrap_ci_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap CI for a QUANTILE — the median
    order price per status (VERDICT r12 #3). This is where the
    bootstrap is not a convenience but the standard answer: the
    sampling distribution of a quantile depends on the unknown
    density at the quantile (the normal-approximation CI needs
    f(Q(p)), which no aggregate can estimate robustly), while the
    bootstrap replicate distribution estimates it directly.

    Same deterministic machinery as ``bootstrap_ci_mean`` (the md5
    CDF-ladder Poisson(1) weights — salted ``q:`` so the stream is
    independent of the mean/ratio lanes — and type-1 rank selection
    over the ≤ B replicate window). The per-replicate statistic is
    the WEIGHTED type-1 median: the smallest cents value whose
    cumulative weight reaches ceil(Σw/2).

    Scale shape — the part worth reading: a quantile has no finite
    sufficient statistic, so a naive replicate quantile would sort
    rows·B elements. But prices quantize to exact int64 CENTS in a
    bounded domain, so the per-(status, b) weighted HISTOGRAM
    ``groupBy(status, b, cents) → Σw`` is map-side combinable —
    shuffle volume is |distinct cents|·B (bounded by the price
    domain, NOT by row count), the quantile_select bucket idea with
    buckets = exact values. The cumulative-weight window then runs
    over the histogram, never the rows. No sort of the exploded
    fact table ever happens. The plain (unweighted) median rides
    the same histogram shape with w = 1. An all-zero replicate
    (Σw = 0) is excluded by the ``sw > 0`` guard (thr would
    degenerate to 0 and pick the minimum); ``n_replicates`` reports
    the effective count. Everything stays integer cents end-to-end —
    this lane has NO division but the two integer thr computations.
    """
    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    reps = spark.sql(f"SELECT * FROM VALUES {b_lit} AS t(b)")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    # plain type-1 median over the per-status value histogram
    h0 = o.groupBy("status", "cents").agg(
        F.count("*").cast("long").alias("wc")
    )
    cum0 = Window.partitionBy("status").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot0 = Window.partitionBy("status")
    plain = (
        h0.withColumn("cn", F.sum("wc").over(cum0))
        .withColumn("n_orders", F.sum("wc").over(tot0))
        .where(F.expr(_PLAIN_Q_THR.format(div="div")))
        .groupBy("status", "n_orders")
        .agg(F.min("cents").alias("median_cents"))
    )
    rows = o.crossJoin(F.broadcast(reps)).withColumn(
        "u",
        F.expr(
            "substring(md5(concat('q:', CAST(o_orderkey AS STRING), ':',"
            " CAST(b AS STRING))), 1, 8)"
        ),
    ).withColumn("w", F.expr(_pois_w_expr("u")).cast("long"))
    h = rows.groupBy("status", "b", "cents").agg(F.sum("w").alias("wc"))
    cum = Window.partitionBy("status", "b").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("status", "b")
    med = (
        h.withColumn("cw", F.sum("wc").over(cum))
        .withColumn("sw", F.sum("wc").over(tot))
        .where(F.expr(f"sw > 0 AND {_BOOT_Q_THR.format(div='div')}"))
        .groupBy("status", "b")
        .agg(F.min("cents").alias("med_cents"))
    )
    win = Window.partitionBy("status").orderBy("med_cents", "b")
    ranked = med.withColumn("rn", F.row_number().over(win)).withColumn(
        "nrep", F.count("*").over(Window.partitionBy("status"))
    )
    lo_sel, hi_sel = BOOT_LO_SEL.format(div="div"), BOOT_HI_SEL.format(div="div")
    ci = ranked.groupBy("status").agg(
        F.count("*").alias("n_replicates"),
        F.max(
            F.when(F.col("rn") == F.expr(lo_sel), F.col("med_cents"))
        ).alias("ci_lo_cents"),
        F.max(
            F.when(F.col("rn") == F.expr(hi_sel), F.col("med_cents"))
        ).alias("ci_hi_cents"),
    )
    return ci.join(F.broadcast(plain), "status").select(
        "status",
        "n_orders",
        "median_cents",
        "n_replicates",
        "ci_lo_cents",
        "ci_hi_cents",
    )


def _sql_bootstrap_ci_quantile() -> str:
    b_lit = ", ".join(f"({b})" for b in range(BOOT_B))
    return f"""
WITH reps AS (SELECT * FROM (VALUES {b_lit}) AS t(b)),
o AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
h0 AS (
  SELECT status, cents, CAST(COUNT(*) AS BIGINT) AS wc
  FROM o GROUP BY status, cents
),
c0 AS (
  SELECT status, cents,
         SUM(wc) OVER (PARTITION BY status ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cn,
         SUM(wc) OVER (PARTITION BY status) AS n_orders
  FROM h0
),
plain AS (
  SELECT status, CAST(n_orders AS BIGINT) AS n_orders,
         MIN(cents) AS median_cents
  FROM c0 WHERE {_PLAIN_Q_THR.format(div="//")}
  GROUP BY status, n_orders
),
rows_w AS (
  SELECT status, b, cents,
         {_pois_w_expr(
             "substr(md5('q:' || CAST(o_orderkey AS VARCHAR) || ':' ||"
             " CAST(b AS VARCHAR)), 1, 8)"
         )} AS w
  FROM o CROSS JOIN reps
),
h AS (
  SELECT status, b, cents, CAST(SUM(w) AS BIGINT) AS wc
  FROM rows_w GROUP BY status, b, cents
),
c AS (
  SELECT status, b, cents,
         SUM(wc) OVER (PARTITION BY status, b ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         SUM(wc) OVER (PARTITION BY status, b) AS sw
  FROM h
),
med AS (
  SELECT status, b, MIN(cents) AS med_cents
  FROM c WHERE sw > 0 AND {_BOOT_Q_THR.format(div="//")}
  GROUP BY status, b
),
r AS (
  SELECT status, b, med_cents,
         row_number() OVER (PARTITION BY status
                            ORDER BY med_cents, b) AS rn,
         COUNT(*) OVER (PARTITION BY status) AS nrep
  FROM med
),
ci AS (
  SELECT status,
         CAST(COUNT(*) AS BIGINT) AS n_replicates,
         MAX(CASE WHEN rn = {BOOT_LO_SEL.format(div="//")} THEN med_cents END)
           AS ci_lo_cents,
         MAX(CASE WHEN rn = {BOOT_HI_SEL.format(div="//")} THEN med_cents END)
           AS ci_hi_cents
  FROM r GROUP BY status
)
SELECT ci.status, n_orders, median_cents,
       n_replicates, ci_lo_cents, ci_hi_cents
FROM ci JOIN plain ON ci.status = plain.status
"""


SQL_BOOTSTRAP_CI_QUANTILE = _sql_bootstrap_ci_quantile()


# --------------------------------------------------------------------
# sample_alloc_neyman
# --------------------------------------------------------------------

NEYMAN_BUDGET = 10_000  # total sample rows to allocate across strata

# The Neyman weight N_h·σ_h collapses to ONE sqrt of the exact
# integer variance numerator: σ_h = sqrt(V_h)/n_h with
# V_h = n·Σy² − (Σy)², so N_h·σ_h = sqrt(V_h) exactly — one
# correctly-rounded sqrt per stratum on the exact decimal/HUGEINT
# moment (the event_interarrival sqrt convention), no other floats.
_NEYMAN_W_EXPR = (
    "CAST(ROUND(SQRT(CAST(v_num AS DOUBLE)), 0) AS BIGINT)"
)


def q_sample_alloc_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a fixed sampling budget across
    strata (order status over price cents) — the survey-sampling
    classic every data-curation budget decision reuses: sampling
    n_h ∝ N_h·σ_h minimizes the variance of the stratified mean for
    a fixed total n (Neyman 1934), so a noisy stratum earns more
    budget than an equally-sized quiet one. The lane reports each
    stratum's size, exact integer Neyman weight, and the allocated
    rows.

    Two exactness pieces: (1) the weight N_h·σ_h collapses to ONE
    correctly-rounded sqrt of the exact integer variance numerator
    V_h = n·Σy² − (Σy)² (decimal/HUGEINT — the algebraic identity
    N·sqrt(V/N²) = sqrt(V) removes the division entirely); (2) the
    integer allocation is HAMILTON (largest-remainder) apportionment
    — base_h = floor(budget·w_h/W), leftovers to the largest
    remainders with a deterministic status tie-break — so the
    allocations are integers that sum EXACTLY to the budget (pinned
    by pytest), never a rounded float split that gains or loses
    rows. A degenerate corpus where every stratum has zero variance
    (W = 0) falls back to proportional-to-size Hamilton.

    Scale shape: one map-side-combinable moments aggregate (output
    |strata| rows), then the apportionment entirely inside the
    bounded strata frame (one |strata|-row window for W, the
    remainder rank, and the leftover count). Zero data joins.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    dec = "decimal(38,0)"
    g = o.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("cents").cast(dec)).cast(dec).alias("sy"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec)
        .alias("syy"),
    )
    g = g.withColumn(
        "v_num",
        F.expr(
            f"CAST(n_rows AS {dec}) * syy - sy * sy"
        ).cast(dec),
    ).withColumn("w_raw", F.expr(_NEYMAN_W_EXPR))
    tot = Window.partitionBy(F.lit(0))
    g = (
        g.withColumn("w_tot_raw", F.sum("w_raw").over(tot))
        .withColumn(
            "w",
            F.expr(
                "CASE WHEN w_tot_raw = 0 THEN n_rows ELSE w_raw END"
            ),
        )
        .withColumn("w_tot", F.sum("w").over(tot))
    )
    b = NEYMAN_BUDGET
    g = (
        g.withColumn(
            "base",
            F.expr(f"(CAST({b} AS {dec}) * w) div CAST(w_tot AS {dec})")
            .cast("long"),
        )
        .withColumn(
            "rem",
            F.expr(
                f"(CAST({b} AS {dec}) * w) % CAST(w_tot AS {dec})"
            ).cast(dec),
        )
        .withColumn("leftover", F.lit(b) - F.sum("base").over(tot))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(F.lit(0)).orderBy(
                    F.col("rem").desc(), F.col("status")
                )
            ),
        )
    )
    return g.select(
        "status",
        "n_rows",
        F.col("w_raw").alias("neyman_weight"),
        F.expr(
            "base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
        ).cast("long").alias("alloc"),
    )


SQL_SAMPLE_ALLOC_NEYMAN = f"""
WITH o AS (
  SELECT o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
         SUM(CAST(cents AS HUGEINT)) AS sy,
         SUM(CAST(cents AS HUGEINT) * cents) AS syy
  FROM o GROUP BY status
),
v AS (
  SELECT status, n_rows,
         CAST(n_rows AS HUGEINT) * syy - sy * sy AS v_num
  FROM g
),
w0 AS (
  SELECT status, n_rows, {_NEYMAN_W_EXPR} AS w_raw FROM v
),
w1 AS (
  SELECT *, SUM(w_raw) OVER () AS w_tot_raw FROM w0
),
w2 AS (
  SELECT status, n_rows, w_raw,
         CASE WHEN w_tot_raw = 0 THEN n_rows ELSE w_raw END AS w
  FROM w1
),
w3 AS (
  SELECT *, SUM(w) OVER () AS w_tot FROM w2
),
a AS (
  SELECT status, n_rows, w_raw,
         (CAST({NEYMAN_BUDGET} AS HUGEINT) * w) // w_tot AS base,
         (CAST({NEYMAN_BUDGET} AS HUGEINT) * w) % w_tot AS rem
  FROM w3
),
a2 AS (
  SELECT *,
         {NEYMAN_BUDGET} - SUM(base) OVER () AS leftover,
         ROW_NUMBER() OVER (ORDER BY rem DESC, status) AS rk
  FROM a
)
SELECT status, n_rows, w_raw AS neyman_weight,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM a2
"""


# --------------------------------------------------------------------
# sample_alloc_executed
# --------------------------------------------------------------------


# cents → micro-dollar mean, the house half-up form (the relational9
# _PT_U_EXPR shape, local to avoid a trainprep ↔ relational9 cycle).
_SAE_MEAN_EXPR = (
    "CASE WHEN {n} = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST((2 * CAST(10000 AS {big}) * CAST({s} AS {big}) + {n})"
    " {div} (2 * CAST({n} AS {big})) AS BIGINT) END"
)


def q_sample_alloc_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Neyman allocation EXECUTED (SURVEY §19.4 candidate):
    ``sample_alloc_neyman`` decides how many rows each stratum gets;
    this lane actually draws them — exactly ``min(alloc, N_h)`` rows
    per stratum, deterministically (the n_h smallest md5(orderkey)
    values), and reports the drawn sample's mean against the
    population mean so the allocation's fidelity is readable.

    The scale mechanism is the TWO-PHASE EXACT-k ORDER STATISTIC:
    a naive "rank every row by hash within its stratum and keep
    rank ≤ n_h" is a full per-stratum window sort of the corpus. A
    bounded histogram of 4-hex hash prefixes (≤ 65536 buckets per
    stratum) locates, per stratum, the BOUNDARY prefix where the
    cumulative count crosses n_h: every row hashing strictly below
    it is in (no ranking needed), and only the boundary bucket —
    ≈ N_h/65536 rows — is ranked exactly (by full hash, then key)
    for the k_rem remainder. The draw is exact, layout-free, and
    rerun-stable; at corpus sizes where N_h/65536 itself grows
    uncomfortable the prefix widens to 6 hex (documented knob, same
    machinery). Full-draw strata (alloc ≥ N_h — the small-SF regime)
    take every row and the boundary logic degenerates harmlessly.

    Exactness: counts and cent sums are exact; both means are the
    pinned half-up micro division. ``n_drawn = min(alloc, N_h)`` is
    pinned by pytest; the md5 order is the sample_split convention.

    Scale shape: the planner's moments aggregate (broadcast |strata|
    rows), ONE prefix-histogram combinable aggregate, bounded
    cumulative windows on the histogram, one broadcast of the
    boundary frame back onto the scan, ONE window over boundary-
    bucket rows only, and one final combinable aggregate. No
    corpus-wide sort ever happens.
    """
    alloc = q_sample_alloc_neyman(spark, sf_dir).select(
        "status", "n_rows", "alloc"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderkey").alias("okey"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
        F.md5(F.col("o_orderkey").cast("string")).alias("h"),
    ).withColumn("pfx", F.substring("h", 1, 4))
    hist = o.groupBy("status", "pfx").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("status")
        .orderBy("pfx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hb = (
        hist.withColumn("cum", F.sum("c").over(wcum))
        .join(F.broadcast(alloc), "status")
        .withColumn("k", F.expr("least(alloc, n_rows)"))
        .where((F.col("cum") >= F.col("k")) & (F.col("k") > 0))
        .groupBy("status", "k")
        .agg(
            F.min("pfx").alias("bpfx"),
        )
    )
    bounds = (
        hist.withColumn("cum", F.sum("c").over(wcum))
        .join(F.broadcast(hb), "status")
        .where(F.col("pfx") == F.col("bpfx"))
        .select(
            "status",
            "k",
            "bpfx",
            (F.col("cum") - F.col("c")).alias("below_cnt"),
            (F.col("k") - (F.col("cum") - F.col("c"))).alias("k_rem"),
        )
    )
    j = o.join(F.broadcast(bounds), "status")
    below = j.where(F.col("pfx") < F.col("bpfx")).select(
        "status", "cents"
    )
    wrank = Window.partitionBy("status").orderBy("h", "okey")
    edge = (
        j.where(F.col("pfx") == F.col("bpfx"))
        .withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") <= F.col("k_rem"))
        .select("status", "cents")
    )
    drawn = below.unionByName(edge).groupBy("status").agg(
        F.count("*").cast("long").alias("n_drawn"),
        F.sum("cents").alias("drawn_sum_cents"),
    )
    pop = o.groupBy("status").agg(
        F.sum("cents").alias("pop_sum_cents"),
    )
    dec = "decimal(38,0)"
    smean = _SAE_MEAN_EXPR.format(
        n="n_drawn", s="drawn_sum_cents", big=dec, div="div"
    )
    pmean = _SAE_MEAN_EXPR.format(
        n="n_rows", s="pop_sum_cents", big=dec, div="div"
    )
    return (
        alloc.join(drawn, "status", "left")
        .join(F.broadcast(pop), "status")
        .withColumn("n_drawn", F.coalesce(F.col("n_drawn"), F.lit(0)))
        .withColumn(
            "drawn_sum_cents",
            F.coalesce(F.col("drawn_sum_cents"), F.lit(0)).cast("long"),
        )
        .select(
            "status",
            "n_rows",
            "alloc",
            "n_drawn",
            "drawn_sum_cents",
            F.expr(smean).alias("sample_mean_micro"),
            F.expr(pmean).alias("pop_mean_micro"),
        )
    )


def _sql_sample_alloc_executed() -> str:
    smean = _SAE_MEAN_EXPR.format(
        n="n_drawn", s="drawn_sum_cents", big="HUGEINT", div="//"
    )
    pmean = _SAE_MEAN_EXPR.format(
        n="n_rows", s="pop_sum_cents", big="HUGEINT", div="//"
    )
    return f"""
WITH alloc AS (
  SELECT status, n_rows, alloc FROM ({SQL_SAMPLE_ALLOC_NEYMAN})
),
o AS (
  SELECT o_orderstatus AS status, o_orderkey AS okey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         md5(CAST(o_orderkey AS VARCHAR)) AS h,
         substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS pfx
  FROM orders
),
hist AS (
  SELECT status, pfx, CAST(COUNT(*) AS BIGINT) AS c
  FROM o GROUP BY status, pfx
),
cum AS (
  SELECT status, pfx, c,
         SUM(c) OVER (PARTITION BY status ORDER BY pfx
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum
  FROM hist
),
hb AS (
  SELECT cum.status, LEAST(alloc, n_rows) AS k, MIN(pfx) AS bpfx
  FROM cum JOIN alloc ON cum.status = alloc.status
  WHERE cum >= LEAST(alloc, n_rows) AND LEAST(alloc, n_rows) > 0
  GROUP BY cum.status, LEAST(alloc, n_rows)
),
bounds AS (
  SELECT cum.status, hb.k, hb.bpfx,
         cum - c AS below_cnt, hb.k - (cum - c) AS k_rem
  FROM cum JOIN hb ON cum.status = hb.status AND cum.pfx = hb.bpfx
),
below AS (
  SELECT o.status, o.cents
  FROM o JOIN bounds b ON o.status = b.status
  WHERE o.pfx < b.bpfx
),
edge AS (
  SELECT status, cents FROM (
    SELECT o.status, o.cents, b.k_rem,
           row_number() OVER (PARTITION BY o.status
                              ORDER BY o.h, o.okey) AS rn
    FROM o JOIN bounds b ON o.status = b.status
    WHERE o.pfx = b.bpfx
  ) WHERE rn <= k_rem
),
drawn AS (
  SELECT status, CAST(COUNT(*) AS BIGINT) AS n_drawn,
         CAST(SUM(cents) AS BIGINT) AS drawn_sum_cents
  FROM (SELECT * FROM below UNION ALL SELECT * FROM edge)
  GROUP BY status
),
pop AS (
  SELECT status, CAST(SUM(cents) AS BIGINT) AS pop_sum_cents
  FROM o GROUP BY status
)
SELECT a.status, a.n_rows, a.alloc,
       COALESCE(d.n_drawn, 0) AS n_drawn,
       CAST(COALESCE(d.drawn_sum_cents, 0) AS BIGINT)
         AS drawn_sum_cents,
       {smean} AS sample_mean_micro,
       {pmean} AS pop_mean_micro
FROM alloc a
LEFT JOIN drawn d ON a.status = d.status
JOIN pop p ON a.status = p.status
"""


SQL_SAMPLE_ALLOC_EXECUTED = _sql_sample_alloc_executed()


QUERIES: list[Query] = [
    Query("sample_split", q_sample_split, SQL_SAMPLE_SPLIT),
    Query("emb_centroids", q_emb_centroids, SQL_EMB_CENTROIDS, bench=True),
    Query("corpus_prep", q_corpus_prep, SQL_CORPUS_PREP, bench=True),
    Query("decontaminate", q_decontaminate, SQL_DECONTAMINATE, bench=True),
    Query("seq_pack", q_seq_pack, SQL_SEQ_PACK),
    Query("embedding_quantize", q_embedding_quantize, SQL_EMBEDDING_QUANTIZE),
    Query("sample_stratified", q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    Query("dedup_passages", q_dedup_passages, SQL_DEDUP_PASSAGES, bench=True),
    Query("dedup_passages_scale", q_dedup_passages_scale, None, bench=True),
    Query("dup_span_max", q_dup_span_max, SQL_DUP_SPAN_MAX),
    Query("pipeline_fineweb", q_pipeline_fineweb, _sql_pipeline_fineweb()),
    Query("mix_weights", q_mix_weights, SQL_MIX_WEIGHTS),
    Query("dsir_weights", q_dsir_weights, SQL_DSIR_WEIGHTS),
    Query("token_budget_select", q_token_budget_select, SQL_TOKEN_BUDGET_SELECT),
    Query("bpe_merges", q_bpe_merges, SQL_BPE_MERGES),
    Query("bpe_apply", q_bpe_apply, SQL_BPE_APPLY),
    Query("shard_manifest", q_shard_manifest, SQL_SHARD_MANIFEST),
    Query("batch_by_length", q_batch_by_length, SQL_BATCH_BY_LENGTH),
    Query("bootstrap_ci_mean", q_bootstrap_ci_mean, SQL_BOOTSTRAP_CI_MEAN),
    Query("bootstrap_ci_ratio", q_bootstrap_ci_ratio, SQL_BOOTSTRAP_CI_RATIO),
    Query("bootstrap_ci_quantile", q_bootstrap_ci_quantile, SQL_BOOTSTRAP_CI_QUANTILE),
    Query("sample_alloc_neyman", q_sample_alloc_neyman, SQL_SAMPLE_ALLOC_NEYMAN),
    Query("sample_alloc_executed", q_sample_alloc_executed, SQL_SAMPLE_ALLOC_EXECUTED),
]
