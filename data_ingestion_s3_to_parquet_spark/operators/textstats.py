"""Text-analysis operators over ``documents`` (SURVEY.md §2B).

- ``text_stats``       per-doc lengths / token stats + quality-score
                       ratios + token-count estimators (oracle; the
                       former text_quality and token_count entries are
                       folded in — one codegen'd scan)
- ``doc_fingerprint``  md5 raw + normalized fingerprints + binary
                       byte-length/sha256 (oracle; former
                       multimodal_binary entry folded in)
- ``lang_id``          marker-word language ID — CASE chain (oracle)
- ``lang_id_ngram``    char-trigram-profile language ID via pandas UDF
                       (engine API + pytest, not oracle-graded: the
                       profile tables are engine-side and the heuristic
                       has no cross-engine ground truth on synthetic
                       text — measured 0.20 agreement with the lang
                       column, so an agreement invariant would gate
                       nothing real)

All oracle queries are pure Catalyst expressions (regexp/array/string
built-ins) — the only Python-in-the-loop operator is the trigram
scorer, which is Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    alpha_ratio,
    lang_by_markers,
    lang_by_ngrams,
    stopword_ratio,
    tokens,
)
from ..plans.spec import Query
from ..sources.catalog import load_table

_STOPLIST_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


TOKEN_RE = "[a-z0-9]+|[^a-z0-9 ]"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document text-analysis pass in one projection: length /
    token stats, the quality-score ratios (stopword = fluency proxy,
    alpha = noise proxy, distinct-token = repetition proxy — the
    standard cheap pre-LLM corpus filters; former text_quality entry),
    and the token-count estimators (BPE-ish regex + chars/4
    rule-of-thumb; former token_count entry). All pure Catalyst
    expressions — one codegen'd scan, no Python in the row path."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    sw = stopword_ratio(F.col("text"))
    al = alpha_ratio(F.col("text"))
    dr = F.size(F.array_distinct(t)).cast("double") / F.size(t)
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("len_chars"),
        F.size(t).alias("n_words"),
        F.size(F.array_distinct(t)).alias("n_distinct_words"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(t),
            6,
        ).alias("avg_word_len"),
        # former text_quality columns
        F.round(sw, 6).alias("stopword_ratio"),
        F.round(al, 6).alias("alpha_ratio"),
        F.round(dr, 6).alias("distinct_ratio"),
        F.round(0.4 * sw + 0.3 * al + 0.3 * dr, 6).alias("quality_score"),
        # former token_count columns
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)).alias(
            "n_re_tokens"
        ),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_est_bpe"),
    )


SQL_TEXT_STATS = f"""
WITH x AS (
  SELECT doc_id, lang, text,
         CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ({_STOPLIST_SQL}))) AS DOUBLE)
           / len(string_split(text, ' ')) AS sw,
         CAST(LENGTH(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
           / LENGTH(text) AS al,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS dr
  FROM documents
)
SELECT doc_id, lang,
       CAST(LENGTH(text) AS INT) AS len_chars,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_words,
       ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS avg_word_len,
       ROUND(sw, 6) AS stopword_ratio,
       ROUND(al, 6) AS alpha_ratio,
       ROUND(dr, 6) AS distinct_ratio,
       ROUND(0.4 * sw + 0.3 * al + 0.3 * dr, 6) AS quality_score,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS n_re_tokens,
       CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_est_bpe
FROM x
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints + opaque-binary handling: raw md5,
    whitespace-normalized md5, and — treating the text's bytes as a
    blob (former multimodal_binary entry) — byte length + sha256, the
    canonical content-address ops for image/audio payloads. (The
    rolling-hash fingerprint variant lives in functions.hashing and is
    covered by unit tests; digests are the cross-engine-checkable
    form.)"""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    blob = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp_raw"),
        F.md5(norm).alias("fp_norm"),
        F.length(blob).alias("n_bytes"),
        F.sha2(blob, 256).alias("sha256_hex"),
    )


SQL_DOC_FINGERPRINT = r"""
SELECT doc_id,
       md5(text) AS fp_raw,
       md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp_norm,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       sha256(text) AS sha256_hex
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        lang_by_markers(F.col("text")).alias("pred_lang"),
    )


SQL_LANG_ID = """
SELECT doc_id, lang,
       CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 'en'
            WHEN ' ' || text || ' ' LIKE '% el %'  THEN 'es'
            WHEN ' ' || text || ' ' LIKE '% le %'  THEN 'fr'
            WHEN ' ' || text || ' ' LIKE '% der %' THEN 'de'
            WHEN ' ' || text || ' ' LIKE '%的%'    THEN 'zh'
            ELSE 'und' END AS pred_lang
FROM documents
"""


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", lang_by_ngrams(F.col("text")).alias("pred_lang")
    )


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality rules in the style of the Gopher /
    MassiveText filters (Rae et al., 2021 §A1.1): word-count bounds,
    top-word-frequency ratio (a single token dominating the document),
    and duplicate-bigram ratio (local repetition), combined into one
    ``keep`` verdict.

    Shape for scale: the top-word frequency needs a per-(doc, word)
    count — there is no ``mode`` builtin — so the plan is one scan →
    explode → two aggregations, BOTH keyed on ``doc_id`` (uniformly
    distributed, no skew); the bigram ratio is a pure Catalyst
    expression computed before the explode and carried through the
    aggregation keys, so the document table is scanned exactly once.
    A per-row higher-order-function count (O(distinct × n_words) per
    document) was rejected: interpreted and quadratic on long docs.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens(F.col("text")).alias("tk")).withColumn(
        "bg",
        F.expr(
            "transform(slice(tk, 1, size(tk) - 1),"
            " (x, i) -> concat(x, ' ', element_at(tk, i + 2)))"
        ),
    )
    dbr = F.when(F.size("bg") > 0,
        F.lit(1.0) - F.size(F.array_distinct("bg")).cast("double") / F.size("bg"),
    ).otherwise(F.lit(0.0))
    ex = base.select("doc_id", dbr.alias("dbr"), F.explode("tk").alias("w"))
    wc = ex.groupBy("doc_id", "dbr", "w").agg(F.count("*").alias("c"))
    tf = wc.groupBy("doc_id", "dbr").agg(
        F.sum("c").alias("n_words"), F.max("c").alias("max_tf")
    )
    twr = F.round(F.col("max_tf").cast("double") / F.col("n_words").cast("double"), 6)
    dbr6 = F.round(F.col("dbr"), 6)
    return tf.select(
        "doc_id",
        "n_words",
        twr.alias("top_word_ratio"),
        dbr6.alias("dup_bigram_ratio"),
        (
            F.col("n_words").between(20, 350)
            & (twr <= 0.12)
            & (dbr6 <= 0.10)
        ).alias("keep"),
    )


SQL_QUALITY_GOPHER = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
b AS (
  SELECT doc_id, t,
         [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)] AS bg
  FROM tk
),
base AS (
  SELECT doc_id, t,
         CASE WHEN len(bg) = 0 THEN 0.0
              ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
         END AS dbr
  FROM b
),
wc AS (
  SELECT doc_id, dbr, g, COUNT(*) AS c
  FROM (SELECT doc_id, dbr, unnest(t) AS g FROM base)
  GROUP BY 1, 2, 3
),
tf AS (
  SELECT doc_id, dbr, CAST(SUM(c) AS BIGINT) AS n_words, MAX(c) AS max_tf
  FROM wc GROUP BY 1, 2
)
SELECT doc_id, n_words,
       ROUND(CAST(max_tf AS DOUBLE) / n_words, 6) AS top_word_ratio,
       ROUND(dbr, 6) AS dup_bigram_ratio,
       (n_words BETWEEN 20 AND 350
        AND ROUND(CAST(max_tf AS DOUBLE) / n_words, 6) <= 0.12
        AND ROUND(dbr, 6) <= 0.10) AS keep
FROM tf
"""


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: regexp-redact emails and phone numbers to
    typed placeholders, with per-doc match counts for audit.

    The fixture corpus contains no real PII, so both engines first
    synthesize a deterministic contact header from fixture columns
    (source-derived email always; a phone on every third doc), then
    redact it — the redacted text is value-hashed, so the replacement
    semantics themselves are what the oracle verifies. Single
    projection, whole-stage codegen'd, trivially scale-safe; the
    patterns are RE2-and-Java-compatible by construction.
    """
    d = load_table(spark, sf_dir, "documents")
    phone = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" "),
        ),
    ).otherwise(F.lit(""))
    synth = F.concat(
        F.lit("contact "), F.col("source"), F.lit("@example.com "), phone,
        F.col("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(synth, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(synth, F.lit(PII_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(synth, F.lit(PII_PHONE_RE), 0)).alias("n_phones"),
        red.alias("redacted"),
    )


SQL_PII_REDACT = rf"""
WITH s AS (
  SELECT doc_id,
         'contact ' || source || '@example.com ' ||
         CASE WHEN doc_id % 3 = 0
              THEN 'call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
              ELSE '' END ||
         text AS synth
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(synth, '{PII_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(synth, '{PII_PHONE_RE}')) AS INT) AS n_phones,
       regexp_replace(regexp_replace(synth, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{PII_PHONE_RE}', '<PHONE>', 'g') AS redacted
FROM s
"""


TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: the top-k highest-scoring terms per
    document, ``score = tf * ln((N+1)/(df+1))`` (smoothed idf).

    Shape for scale: one scan → explode → (doc_id, term) partial+final
    count (the TF table), then a term-keyed count over THAT table (the
    DF table — one row per distinct (doc, term), far smaller than the
    token stream, and map-side combine absorbs stop-word skew; the
    DF⋈TF join is PINNED shuffle-hash because the DF table is
    vocabulary-sized and grows with the corpus — Catalyst's
    post-aggregate estimate would broadcast it, the same
    explode-underestimate class dedup_ngram_jaccard pins). N is a
    1-row aggregate broadcast into the join, never a driver collect.
    The final per-doc top-k goes through a rank window; Spark's
    WindowGroupLimit pushes the k-filter below the shuffle so each
    task ships only its local top-k per doc. Ordering is by the
    *rounded* score with a term tie-break, so rank assignment does not
    depend on sub-ulp float differences between engines.
    """
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = ex.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    score = F.round(
        F.col("tf").cast("double")
        * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)),
        6,
    )
    scored = (
        tf.join(dfreq.hint("shuffle_hash"), "term")
        .join(F.broadcast(n))
        .select("doc_id", "term", "tf", "df", score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         ROUND(CAST(tf.tf AS DOUBLE)
               * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfq.df + 1)), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score, CAST(rk AS INT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rk
  FROM s
) WHERE rk <= {TFIDF_TOP_K}
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed document-quality GATE (SURVEY §8 #5): one
    calibrated keep/bucket decision per document, combining the three
    signal families a production LLM-data pipeline computes anyway —
    ``text_stats``'s heuristic ratios (stopword/alpha/distinct →
    quality_score), ``quality_gopher``'s repetition verdicts
    (top-word + duplicate-bigram ratios), and ``lm_unigram_score``'s
    corpus-LM fluency (avg negative log-likelihood). This is the
    fastText-classifier-shaped filter (cf. CCNet / Gopher / FineWeb
    pipelines) expressed over signals that are each oracle-checkable,
    so the fused score is too.

    Scoring is pure int64 fixed point (SCALE.md §34): each 6-dp signal
    is lifted to integer micro-units, fluency and repetition are
    clamped linear ramps (nll 4→12 maps 1e6→0; twr saturates at the
    Gopher bound 0.12, dbr at 0.10), and the fused score is the
    integer-weighted mean (40% heuristics, 30% fluency, 30%
    repetition) — every division has a non-negative numerator so
    truncating (Spark ``div``) and flooring (DuckDB ``//``) integer
    division agree bitwise. Buckets: high ≥ 0.55, medium ≥ 0.45 (calibrated so all three buckets are populated on the fixture corpus, pinned by pytest);
    ``keep`` = medium-or-better AND the Gopher verdict.

    Scale shape: the three signal frames each end keyed on ``doc_id``
    (two end in a doc_id groupBy, so they arrive pre-partitioned); the
    fusion is two doc_id equi-joins on a uniform key plus a map-only
    projection. In production the signal tables are materialized once
    and re-scored for free when only the weights/thresholds change —
    and this operator now DOES that (VERDICT r5 #8): the joined signal
    frame is a per-fixture persisted artifact
    (:func:`_quality_signals`, same mechanics as the k-NN edge and
    Jaccard pair artifacts), so each run pays only the fixed-point
    scoring projection. The oracle recomputes all three signal
    pipelines in SQL, so graded semantics are unchanged;
    cache-equals-rebuild is pinned by
    tests/test_operators.py::test_quality_signals_artifact_matches_rebuild.
    """
    feat = (
        _quality_signals(spark, sf_dir)
        .withColumn("sq", F.round(F.col("quality_score") * 1e6, 0).cast("long"))
        .withColumn("mnll", F.round(F.col("avg_nll") * 1e6, 0).cast("long"))
        .withColumn("mtwr", F.round(F.col("top_word_ratio") * 1e6, 0).cast("long"))
        .withColumn("mdbr", F.round(F.col("dup_bigram_ratio") * 1e6, 0).cast("long"))
        .withColumn(
            "s_flu",
            F.expr("least(1000000, greatest(0, 12000000 - mnll) div 8)"),
        )
        .withColumn(
            "s_rep",
            F.expr(
                "greatest(0, 1000000 - greatest("
                "mtwr * 1000000 div 120000, mdbr * 1000000 div 100000))"
            ),
        )
        .withColumn("score_u", F.expr("(40 * sq + 30 * s_flu + 30 * s_rep) div 100"))
    )
    return feat.select(
        "doc_id",
        "quality_score",
        "avg_nll",
        "top_word_ratio",
        "dup_bigram_ratio",
        (F.col("score_u").cast("double") / 1e6).alias("score"),
        F.when(F.col("score_u") >= 550_000, "high")
        .when(F.col("score_u") >= 450_000, "medium")
        .otherwise("low")
        .alias("bucket"),
        (F.col("gopher_keep") & (F.col("score_u") >= 450_000)).alias("keep"),
    )


def _quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier's joined signal frame (heuristic ratios ⋈ Gopher
    repetition verdicts ⋈ unigram-LM fluency), persisted per fixture.

    A pure function of the documents table that cost ~3.5 s of every
    benched classifier run while being exactly what a production
    pipeline materializes once (the docstring above said so; now the
    code does it — VERDICT r5 #8). Mechanics from :mod:`..artifacts`:
    fingerprint-keyed parquet + checksum sidecar, rebuild on any
    fixture rewrite or corrupt cache.
    """
    from ..artifacts import fixture_fingerprint, persisted_frame

    def build() -> DataFrame:
        from .relational8 import q_lm_unigram_score

        ts = q_text_stats(spark, sf_dir).select("doc_id", "quality_score")
        qg = q_quality_gopher(spark, sf_dir).select(
            "doc_id",
            "top_word_ratio",
            "dup_bigram_ratio",
            F.col("keep").alias("gopher_keep"),
        )
        lm = q_lm_unigram_score(spark, sf_dir).select("doc_id", "avg_nll")
        return ts.join(qg, "doc_id").join(lm, "doc_id")

    fp = fixture_fingerprint(sf_dir, "documents")
    return persisted_frame(
        spark,
        "qsignals",
        f"v1-{fp}",
        build,
        (
            "doc_id",
            "quality_score",
            "top_word_ratio",
            "dup_bigram_ratio",
            "gopher_keep",
            "avg_nll",
        ),
    )


def _sql_quality_classifier() -> str:
    from .relational8 import SQL_LM_UNIGRAM_SCORE

    return f"""
WITH ts AS (SELECT * FROM ({SQL_TEXT_STATS}) t),
qg AS (SELECT * FROM ({SQL_QUALITY_GOPHER}) g),
lm AS (SELECT * FROM ({SQL_LM_UNIGRAM_SCORE}) l),
feat AS (
  SELECT ts.doc_id, ts.quality_score, lm.avg_nll,
         qg.top_word_ratio, qg.dup_bigram_ratio, qg.keep AS gopher_keep,
         CAST(ROUND(ts.quality_score * 1000000, 0) AS BIGINT) AS sq,
         CAST(ROUND(lm.avg_nll * 1000000, 0) AS BIGINT) AS mnll,
         CAST(ROUND(qg.top_word_ratio * 1000000, 0) AS BIGINT) AS mtwr,
         CAST(ROUND(qg.dup_bigram_ratio * 1000000, 0) AS BIGINT) AS mdbr
  FROM ts JOIN qg USING (doc_id) JOIN lm USING (doc_id)
),
sc AS (
  SELECT *,
         LEAST(1000000, GREATEST(0, 12000000 - mnll) // 8) AS s_flu,
         GREATEST(0, 1000000 - GREATEST(mtwr * 1000000 // 120000,
                                        mdbr * 1000000 // 100000)) AS s_rep
  FROM feat
),
fused AS (
  SELECT *, (40 * sq + 30 * s_flu + 30 * s_rep) // 100 AS score_u FROM sc
)
SELECT doc_id, quality_score, avg_nll, top_word_ratio, dup_bigram_ratio,
       CAST(score_u AS DOUBLE) / 1000000.0 AS score,
       CASE WHEN score_u >= 550000 THEN 'high'
            WHEN score_u >= 450000 THEN 'medium'
            ELSE 'low' END AS bucket,
       gopher_keep AND score_u >= 450000 AS keep
FROM fused
"""


SQL_QUALITY_CLASSIFIER = _sql_quality_classifier()


MARKUP_TAG_RE = r"<[^>]*>"


def q_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping — the C4/CCNet first pass over crawled HTML:
    remove tags, unescape entities, collapse the whitespace the
    removals leave behind, with per-doc audit counts.

    The fixture corpus is plain text, so both engines first synthesize
    a deterministic HTML wrapper from fixture columns (block tags
    around the document, an inline ``<b>`` on every second doc, an
    ``&amp;`` entity on every third — same convention as
    ``pii_redact``'s contact headers), then strip it; the cleaned text
    is value-hashed, so the strip semantics themselves are what the
    oracle verifies, and the round-trip back to the original text is
    pinned by pytest. Single projection, whole-stage codegen'd,
    trivially scale-safe; the tag pattern is RE2-and-Java-compatible
    by construction.
    """
    d = load_table(spark, sf_dir, "documents")
    inline = F.when(F.col("doc_id") % 2 == 0, F.lit("<b>bold</b> ")).otherwise(
        F.lit("")
    )
    entity = F.when(F.col("doc_id") % 3 == 0, F.lit("&amp; ")).otherwise(
        F.lit("")
    )
    marked = F.concat(
        F.lit('<div class="doc"><p>'),
        inline,
        entity,
        F.col("text"),
        F.lit("</p></div>"),
    )
    stripped = F.regexp_replace(marked, MARKUP_TAG_RE, " ")
    unescaped = F.replace(stripped, F.lit("&amp;"), F.lit("&"))
    clean = F.trim(F.regexp_replace(unescaped, r" +", " "))
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(marked, F.lit(MARKUP_TAG_RE), 0)).alias(
            "n_tags"
        ),
        F.size(F.regexp_extract_all(marked, F.lit("&amp;"), 0)).alias(
            "n_entities"
        ),
        clean.alias("clean_text"),
    )


SQL_STRIP_MARKUP = rf"""
WITH s AS (
  SELECT doc_id,
         '<div class="doc"><p>' ||
         CASE WHEN doc_id % 2 = 0 THEN '<b>bold</b> ' ELSE '' END ||
         CASE WHEN doc_id % 3 = 0 THEN '&amp; ' ELSE '' END ||
         text || '</p></div>' AS marked
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(marked, '{MARKUP_TAG_RE}')) AS INT) AS n_tags,
       CAST(len(regexp_extract_all(marked, '&amp;')) AS INT) AS n_entities,
       trim(regexp_replace(
           replace(regexp_replace(marked, '{MARKUP_TAG_RE}', ' ', 'g'),
                   '&amp;', '&'),
           ' +', ' ', 'g')) AS clean_text
FROM s
"""


NGRAM_TOP = 100


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word-bigram frequency table, top-100 — the n-gram
    statistic behind boilerplate discovery, hot-gram blocking
    (``dedup_passages`` semi-joins on exactly this kind of table), and
    dataset cards. Counts ALL occurrences (a frequency table), unlike
    the dedup lanes' per-document-distinct shingles.

    Plan: tokenize once into a bound column (Catalyst does not CSE a
    split through lambda bindings — ``functions.text`` note), build
    bigrams with one ``transform`` over a ``sequence`` of start
    indices, explode, ONE map-side-combinable count, and a
    TakeOrderedAndProject top-100 on the total order (n DESC, gram
    ASC) — the tie at the cut is deterministic on both engines. At
    100 TB the only data-sized stages are the scan and the gram
    shuffle; the result is bounded at 100 rows.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    idx = F.when(
        F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("t"), i.cast("int")),
            F.element_at(F.col("t"), (i + 1).cast("int")),
        ),
    )
    ex = d.select(F.explode(grams).alias("gram"))
    return (
        ex.groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(NGRAM_TOP)
    )


SQL_NGRAM_COUNTS = f"""
WITH tt AS (SELECT string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT unnest([t[i] || ' ' || t[i+1]
                 for i in generate_series(1, len(t) - 1)]) AS gram
  FROM tt
)
SELECT gram, COUNT(*) AS n
FROM g GROUP BY gram
ORDER BY n DESC, gram
LIMIT {NGRAM_TOP}
"""


def q_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-distribution Shannon entropy — the
    information-theoretic quality signal: template/boilerplate text
    reuses a few words (low H), natural prose spreads mass (higher H),
    and H complements the Gopher repetition ratios with a single
    scalar. H = Σ cᵢ·log2(n/cᵢ) / n over the document's word counts.

    Determinism is the ``lm_unigram_score`` rule applied per (doc,
    word): n/cᵢ is a quotient of exact int64-in-double values, one
    log2 per distinct word, the term cᵢ·log2(n/cᵢ) is a fixed IEEE op
    sequence micro-quantized to int64, the per-doc sum is exact, and
    the final /n goes through the midpoint-free fixed-point quotient.
    Scale shape: one (doc_id, word) count shuffle, one doc_id window
    for the doc totals, one combinable per-doc aggregation — all keyed
    on high-cardinality doc ids.
    """
    from ..functions.numeric import fp_ratio

    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    cnt = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    wd = Window.partitionBy("doc_id")
    m = cnt.select(
        "doc_id",
        "c",
        F.sum("c").over(wd).alias("n"),
    )
    tm = F.round(
        F.col("c").cast("double")
        * F.log2(F.col("n").cast("double") / F.col("c").cast("double"))
        * 1_000_000,
        0,
    ).cast("long")
    return (
        m.select("doc_id", "c", "n", tm.alias("tm"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_words"),
            F.count("*").alias("n_distinct"),
            F.sum("tm").alias("s"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            fp_ratio(F.col("s"), F.col("n_words"), 6).alias("entropy"),
        )
    )


SQL_ENTROPY_SCORE = """
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
m AS (
  SELECT doc_id, c,
         CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM cnt
),
t AS (
  SELECT doc_id, c, n,
         CAST(ROUND(CAST(c AS DOUBLE)
                    * log2(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                    * 1000000, 0) AS BIGINT) AS tm
  FROM m
),
g AS (
  SELECT doc_id, MAX(n) AS n_words, COUNT(*) AS n_distinct,
         CAST(SUM(tm) AS BIGINT) AS s
  FROM t GROUP BY doc_id
)
SELECT doc_id, n_words, n_distinct,
       CAST((2 * s + n_words) // (2 * n_words) AS DOUBLE) / 1000000.0
         AS entropy
FROM g
"""


# content-defined chunk boundary: md5 first-nibble % 8 == 0 → a token
# closes a chunk with probability 2/16, i.e. ~8-token expected chunks
CDC_DIVISOR = 8


def q_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC idea applied to token
    streams): chunk boundaries are placed where a rolling content hash
    crosses a threshold — a pure function of the TOKEN, not of
    position — so an insertion early in a document shifts only the
    chunk it lands in, and every other chunk keeps its identity (and
    its fingerprint) for cross-document dedup. Fixed-width chunking
    (``chunk_text``) re-fingerprints everything downstream of an edit;
    this is the chunking that makes substring-level dedup incremental.

    Per chunk: ordered token reassembly (sort_array over (pos, token)
    structs — deterministic on both engines), token count, md5
    fingerprint, and the cross-corpus copy count of that fingerprint.
    Shapes: one posexplode scan, the per-doc boundary window
    (high-cardinality doc key), one (doc, chunk) aggregation, one
    fingerprint-keyed window for copy counts — every shuffle keys on
    doc ids or content hashes, never on text.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    brk = (
        F.conv(F.substring(F.md5("tok"), 1, 1), 16, 10).cast("long")
        % CDC_DIVISOR
        == 0
    ).cast("long")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = toks.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum(brk).over(w), F.lit(0)).alias("chunk_id"),
    )
    asm = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda s: s.tok,
        ),
        " ",
    )
    per_chunk = chunks.groupBy("doc_id", "chunk_id").agg(
        F.count("*").alias("n_tokens"),
        asm.alias("chunk_text"),
    )
    wf = Window.partitionBy("fingerprint")
    return (
        per_chunk.withColumn("fingerprint", F.md5("chunk_text"))
        .withColumn("n_copies", F.count("*").over(wf))
        .select(
            "doc_id", "chunk_id", "n_tokens", "fingerprint", "n_copies"
        )
    )


SQL_CONTENT_CHUNKS = f"""
WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ti AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos FROM tt
),
t AS (SELECT doc_id, pos, t[pos] AS tok FROM ti),
b AS (
  SELECT doc_id, pos, tok,
         CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1)
                   % {CDC_DIVISOR} = 0 THEN 1 ELSE 0 END AS brk
  FROM t
),
c AS (
  SELECT doc_id, pos, tok,
         CAST(COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS BIGINT)
           AS chunk_id
  FROM b
),
g AS (
  SELECT doc_id, chunk_id, COUNT(*) AS n_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS chunk_text
  FROM c GROUP BY doc_id, chunk_id
)
SELECT doc_id, chunk_id, n_tokens,
       md5(chunk_text) AS fingerprint,
       COUNT(*) OVER (PARTITION BY md5(chunk_text)) AS n_copies
FROM g
"""


# C4-style blocklist (fixture-vocabulary words standing in for a real
# bad-words list — the GATE mechanics are what the oracle verifies)
WORD_BLOCKLIST = ("slow", "big", "error")


def q_word_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist word gate — the C4 "bad words" filter: per document,
    the total and distinct blocklist hits, the fixed-point hit rate,
    and the keep verdict (C4 semantics: ANY hit drops the document).
    Map-only array algebra inside whole-stage codegen — at 100 TB this
    gate is scan-bound, exactly as a first-pass filter must be; the
    blocklist itself is a compile-time constant folded into the plan
    (a runtime blocklist table would be the one provably-safe
    broadcast, the ``vocab_coverage`` shape).
    """
    from ..functions.numeric import fp_ratio

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    flagged = F.filter(toks, lambda x: x.isin(*WORD_BLOCKLIST))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(flagged).cast("long").alias("n_flagged"),
        F.size(F.array_distinct(flagged)).cast("long").alias("n_distinct_flagged"),
        fp_ratio(
            F.size(flagged).cast("long") * 1_000_000,
            F.size(toks).cast("long"),
            6,
        ).alias("flag_rate"),
        (F.size(flagged) == 0).alias("keep"),
    )


_BL = ", ".join(f"'{w}'" for w in WORD_BLOCKLIST)

SQL_WORD_FILTER = f"""
WITH b AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN ({_BL}))) AS BIGINT) AS n_flagged,
         CAST(len(list_distinct(list_filter(string_split(text, ' '),
                              x -> x IN ({_BL})))) AS BIGINT)
           AS n_distinct_flagged
  FROM documents
)
SELECT doc_id, n_tokens, n_flagged, n_distinct_flagged,
       CAST((2 * n_flagged * 1000000 + n_tokens)
            // (2 * n_tokens) AS DOUBLE) / 1000000.0 AS flag_rate,
       n_flagged = 0 AS keep
FROM b
"""


PMI_TOP = 50
PMI_MIN_COUNT = 5


def q_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for the top word bigrams —
    collocation strength, the statistic behind phrase mining and
    tokenizer-merge diagnostics (a high-count bigram with LOW PMI is
    two independently-frequent words; high PMI marks a true
    collocation worth a vocabulary slot).

    PMI = log2(p(x,y) / (p(x)·p(y))) evaluated on exact integer
    counts: the argument is assembled as one double expression with a
    FIXED operation order on both engines (each IEEE step correctly
    rounded ⇒ bitwise-identical), then the single log2 is quantized to
    integer micro-units (the ``lm_unigram_score`` rule — one
    transcendental per row, micro-rounded, ulp-coincidence risk
    ~1e-9/row). Scale shape: the bigram and unigram counts are
    map-side-combinable shuffles; the pair frame is cut to the
    top-{top} (count DESC, gram ASC) total order BEFORE the unigram
    joins, so the joined side is {top}-row bounded and broadcast-safe
    at any corpus size; totals ride along as broadcast 1-row frames.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    idx = F.when(
        F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("t"), i.cast("int")),
            F.element_at(F.col("t"), (i + 1).cast("int")),
        ),
    )
    ex = d.select(F.explode(grams).alias("gram"))
    pair_top = (
        ex.groupBy("gram")
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= PMI_MIN_COUNT)
        .orderBy(F.desc("c_xy"), "gram")
        .limit(PMI_TOP)
        .select(
            "gram",
            F.split("gram", " ").getItem(0).alias("x"),
            F.split("gram", " ").getItem(1).alias("y"),
            "c_xy",
        )
    )
    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    uni = words.groupBy("w").agg(F.count("*").alias("c"))
    n_uni = words.agg(F.count("*").alias("n_uni"))
    n_pairs = ex.agg(F.count("*").alias("n_pairs"))
    joined = (
        uni.join(F.broadcast(pair_top), uni.w == pair_top.x)
        .select("gram", "x", "y", "c_xy", F.col("c").alias("c_x"))
        .join(F.broadcast(n_uni))  # 1-row
        .join(F.broadcast(n_pairs))  # 1-row
    )
    joined = (
        uni.withColumnRenamed("w", "wy")
        .withColumnRenamed("c", "c_y")
        .join(F.broadcast(joined), F.col("wy") == F.col("y"))
    )
    ratio = (
        F.col("c_xy").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
        / (
            F.col("n_pairs").cast("double")
            * F.col("c_x").cast("double")
            * F.col("c_y").cast("double")
        )
    )
    micro = F.round(F.log2(ratio) * 1_000_000, 0).cast("long")
    return joined.select(
        "gram",
        "x",
        "y",
        "c_xy",
        "c_x",
        "c_y",
        (micro.cast("double") / 1e6).alias("pmi"),
    )


q_pmi_cooccur.__doc__ = q_pmi_cooccur.__doc__.format(top=PMI_TOP)


SQL_PMI_COOCCUR = f"""
WITH tt AS (SELECT string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT unnest([t[i] || ' ' || t[i+1]
                 for i in generate_series(1, len(t) - 1)]) AS gram
  FROM tt
),
pt AS (
  SELECT gram,
         string_split(gram, ' ')[1] AS x,
         string_split(gram, ' ')[2] AS y,
         c_xy
  FROM (
    SELECT gram, COUNT(*) AS c_xy FROM g GROUP BY gram
    HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ORDER BY c_xy DESC, gram LIMIT {PMI_TOP}
  )
),
w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
uni AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
nu AS (SELECT COUNT(*) AS n_uni FROM w),
np AS (SELECT COUNT(*) AS n_pairs FROM g)
SELECT pt.gram, pt.x, pt.y, pt.c_xy,
       ux.c AS c_x, uy.c AS c_y,
       CAST(CAST(ROUND(log2(
         CAST(pt.c_xy AS DOUBLE) * CAST(nu.n_uni AS DOUBLE)
           * CAST(nu.n_uni AS DOUBLE)
         / (CAST(np.n_pairs AS DOUBLE) * CAST(ux.c AS DOUBLE)
            * CAST(uy.c AS DOUBLE))
       ) * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0 AS pmi
FROM pt
JOIN uni ux ON ux.w = pt.x
JOIN uni uy ON uy.w = pt.y
CROSS JOIN nu CROSS JOIN np
"""


# Misra-Gries capacity: each per-partition summary keeps at most this
# many counters, so the merged undercount is bounded by
# N_tokens / (capacity + 1) regardless of how the corpus is laid out.
MG_CAPACITY = 128
FREQ_TOP = 20


def _mg_summaries(batches):
    """Per-partition Misra-Gries heavy-hitter summary (Arrow-batched).

    Runs once per partition (mapInPandas hands this generator ALL of
    the partition's batches), folding each batch's token counts into a
    bounded dict via the mergeable-summaries combine step (Agarwal et
    al., PODS'12): add the counts, then subtract the (capacity+1)-th
    largest counter from every entry and drop the non-positives. The
    result underestimates every true count by at most
    N_partition/(capacity+1) — and summing summaries across partitions
    keeps the bound additive, so the global undercount stays within
    N_total/(capacity+1).
    """
    from collections import Counter

    import pandas as pd

    mg: dict[str, int] = {}
    for pdf in batches:
        batch = Counter()
        for t in pdf["text"]:
            batch.update((t or "").split(" "))
        for w, c in batch.items():
            mg[w] = mg.get(w, 0) + c
        if len(mg) > MG_CAPACITY:
            cut = sorted(mg.values(), reverse=True)[MG_CAPACITY]
            mg = {w: c - cut for w, c in mg.items() if c > cut}
    if mg:
        yield pd.DataFrame({"w": list(mg.keys()), "est": list(mg.values())})


def q_freq_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a mergeable Misra-Gries sketch, graded as an
    accuracy contract (the ``agg_hll_sketch`` convention): the exact
    top-{FREQ_TOP} token counts are computed bit-for-bit on both
    engines, and ``sketch_ok`` asserts the sketch's estimate for each
    top token undershoots by at most N/(capacity+1) — TRUE on every
    row by the Misra-Gries theorem, for ANY data layout (the estimate
    itself is layout-dependent, so only the guaranteed invariant is
    exposed, never the raw estimate).

    Why this exists next to the exact count: at 100 TB the per-task
    summaries are ≤ capacity rows each — storable, re-mergeable
    per-day/per-shard artifacts — so a corpus-wide heavy-hitter query
    never rescans history; the exact lane here is both the oracle and
    the quality gate. Plan shape: one token scan feeds the exact
    count (map-side combinable) and the total; the sketch lane is a
    ``mapInPandas`` pass emitting ≤ capacity rows per task, merged by
    one tiny groupBy and broadcast against the {FREQ_TOP}-row top-k
    frame (the merged summary is partition-bounded — ≤ capacity rows
    per task — never corpus-proportional, so the broadcast is safe at
    any data size). Top-k cut is the (count DESC, token ASC) total
    order — deterministic on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w"))
    exact_top = (
        words.groupBy("w")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "w")
        .limit(FREQ_TOP)
    )
    merged = (
        d.select("text")
        .mapInPandas(_mg_summaries, "w string, est long")
        .groupBy("w")
        .agg(F.sum("est").alias("est"))
    )
    total = words.agg(F.count("*").alias("n_tok"))
    err = F.col("n_exact") - F.coalesce(F.col("est"), F.lit(0))
    bound = F.floor(F.col("n_tok") / (MG_CAPACITY + 1)).cast("long")
    return (
        exact_top.join(F.broadcast(merged), "w", "left_outer")
        .crossJoin(F.broadcast(total))
        .select(
            "w",
            "n_exact",
            ((err >= 0) & (err <= bound)).alias("sketch_ok"),
        )
    )


q_freq_items_topk.__doc__ = q_freq_items_topk.__doc__.format(FREQ_TOP=FREQ_TOP)


SQL_FREQ_ITEMS_TOPK = f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
SELECT w, COUNT(*) AS n_exact, TRUE AS sketch_ok
FROM w GROUP BY w
ORDER BY n_exact DESC, w
LIMIT {FREQ_TOP}
"""


VOCAB_N = 1000


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-language token totals, OOV
    counts, and the fixed-point OOV rate against the corpus top-{n}
    word vocabulary — the coverage report run before committing to a
    tokenizer (a vocab trained on the majority language starves the
    rest; this is the table that shows it).

    Scale shape: the vocabulary is top-N on the (count DESC, word ASC)
    total order — BOUNDED at {n} rows by construction, so the
    membership side of the coverage join is a constant-size broadcast
    at any corpus scale (the §45 classification: proportional to a
    constant, not to the corpus). Two token-stream passes (one count
    shuffle to elect the vocab, one broadcast-join scan to grade
    coverage), both map-side combinable; the OOV rate goes through the
    midpoint-free fixed-point quotient so both engines project the
    identical double.
    """
    from ..functions.numeric import fp_ratio

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(VOCAB_N)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        toks.join(F.broadcast(vocab), "w", "left_outer")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            oov.cast("long").alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            fp_ratio(
                F.col("n_oov") * 1_000_000, F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


q_vocab_coverage.__doc__ = q_vocab_coverage.__doc__.format(n=VOCAB_N)


SQL_VOCAB_COVERAGE = f"""
WITH t AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
),
v AS (
  SELECT w, TRUE AS in_vocab FROM (
    SELECT w, COUNT(*) AS n FROM t GROUP BY w
    ORDER BY n DESC, w LIMIT {VOCAB_N}
  )
),
g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_oov
  FROM t LEFT JOIN v ON t.w = v.w
  GROUP BY lang
)
SELECT lang, n_tokens, n_oov,
       CAST((2 * n_oov * 1000000 + n_tokens) // (2 * n_tokens)
            AS DOUBLE) / 1000000.0 AS oov_rate
FROM g
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + duplicate-URL detection — the first
    dedup key a crawl pipeline applies (before any content hash):
    strip tracking query strings and fragments, lowercase, drop the
    ``www.`` prefix and trailing slash, then group by the canonical
    form and elect one keeper per group.

    The fixture has no URL column, so both engines first synthesize a
    deterministic raw URL from fixture columns (the ``pii_redact``
    convention — uppercase noise on every 3rd doc, a ``www.`` prefix
    on every 4th, a trailing slash on every 5th, and a path key of
    ``doc_id mod 25`` so canonical collisions actually occur), then
    canonicalize it with generic regexp string ops — the
    canonicalization rules are what the oracle verifies, not the
    synthesis. Map-only until the one canonical-key window (keeper
    election on the (canon, doc_id) total order — the ``cdc_apply``
    keep-first shape); at 100 TB the window key is the canonical URL,
    high-cardinality and hash-partitionable.
    """
    d = load_table(spark, sf_dir, "documents")
    noisy_host = F.when(
        F.col("doc_id") % 3 == 0, F.upper(F.col("source"))
    ).otherwise(F.col("source"))
    www = F.when(F.col("doc_id") % 4 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    slash = F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    raw = F.concat(
        F.lit("https://"),
        www,
        noisy_host,
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/article-"),
        (F.col("doc_id") % 25).cast("string"),
        slash,
        F.lit("?utm_source=feed&sid="),
        F.col("doc_id").cast("string"),
        F.lit("#sec"),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), r"[?#].*$", ""),
            r"^https://www\.",
            "https://",
        ),
        r"/$",
        "",
    )
    w = Window.partitionBy("url_canon")
    wk = Window.partitionBy("url_canon").orderBy("doc_id")
    return (
        d.select(
            "doc_id",
            raw.alias("url_raw"),
            canon.alias("url_canon"),
        )
        .withColumn(
            "host", F.regexp_extract("url_canon", r"^https://([^/]+)", 1)
        )
        .withColumn("tld", F.regexp_extract("host", r"\.([a-z]+)$", 1))
        .withColumn(
            "path_depth",
            (
                F.size(
                    F.split(
                        F.regexp_extract("url_canon", r"^https://[^/]+(/.*)$", 1),
                        "/",
                    )
                )
                - 1
            ).cast("long"),
        )
        .withColumn("n_dups", F.count("*").over(w))
        .withColumn("keep", F.row_number().over(wk) == 1)
    )


SQL_URL_CANONICALIZE = r"""
WITH raw AS (
  SELECT doc_id,
         'https://'
         || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
         || '.example.com/' || lang || '/article-'
         || CAST(doc_id % 25 AS VARCHAR)
         || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
         || '?utm_source=feed&sid=' || CAST(doc_id AS VARCHAR)
         || '#sec' AS url_raw
  FROM documents
),
c AS (
  SELECT doc_id, url_raw,
         regexp_replace(
           regexp_replace(
             regexp_replace(lower(url_raw), '[?#].*$', ''),
             '^https://www\.', 'https://'),
           '/$', '') AS url_canon
  FROM raw
)
SELECT doc_id, url_raw, url_canon,
       regexp_extract(url_canon, '^https://([^/]+)', 1) AS host,
       regexp_extract(regexp_extract(url_canon, '^https://([^/]+)', 1),
                      '\.([a-z]+)$', 1) AS tld,
       CAST(len(string_split(
              regexp_extract(url_canon, '^https://[^/]+(/.*)$', 1), '/'))
            - 1 AS BIGINT) AS path_depth,
       COUNT(*) OVER (PARTITION BY url_canon) AS n_dups,
       row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) = 1 AS keep
FROM c
"""


# CMS geometry: depth 4 rows × width 256 columns = 1024 cells — the
# merged sketch is CONSTANT-SIZE (≤ 1024 rows) at any corpus scale.
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOP = 20


def _cms_cells(batches):
    """Per-partition count-min sketch (Arrow-batched): hash every token
    into CMS_DEPTH row-seeded md5 buckets and emit the partition's
    non-zero cells. Cell counts are pure sums, so the groupBy-merge of
    per-partition sketches equals the global sketch for ANY layout."""
    import hashlib
    from collections import Counter

    import pandas as pd

    cells: Counter = Counter()
    for pdf in batches:
        for t in pdf["text"]:
            for w in (t or "").split(" "):
                for r in range(CMS_DEPTH):
                    h = hashlib.md5(f"{r}:{w}".encode()).hexdigest()[:6]
                    cells[(r, int(h, 16) % CMS_WIDTH)] += 1
    if cells:
        yield pd.DataFrame(
            {
                "r": [k[0] for k in cells],
                "c": [k[1] for k in cells],
                "cnt": list(cells.values()),
            }
        )


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation, graded as an accuracy
    contract (the ``freq_items_topk`` / ``agg_hll_sketch`` convention):
    exact top-{top} token counts bitwise on both engines, plus
    ``cms_ok`` asserting the sketch estimate NEVER undercounts and
    never exceeds the corpus token total — both guaranteed-true by
    construction (cells only ever add counts), for any data layout.

    CMS complements Misra-Gries (``freq_items_topk``): MG answers
    "what are the heavy hitters" in bounded space; CMS answers "how
    often does THIS item occur" for any queried item, and its cells
    are pure sums — per-shard sketches merge by cell-wise addition,
    the ideal store-and-reaggregate artifact. Plan shape: the sketch
    lane is one ``mapInPandas`` pass emitting ≤ {cells} cells per
    task, merged by a tiny groupBy (constant-size key space); the
    probe side is {top}×{depth} rows joined against the broadcast
    merged sketch. The exact lane (oracle twin) is one map-side
    combinable count.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w"))
    exact_top = (
        words.groupBy("w")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "w")
        .limit(CMS_TOP)
    )
    merged = (
        d.select("text")
        .mapInPandas(_cms_cells, "r int, c int, cnt long")
        .groupBy("r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )
    probes = exact_top.select(
        "w",
        "n_exact",
        F.explode(
            F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
        ).alias("r"),
    ).withColumn(
        "c",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("r").cast("string"), F.lit(":"), F.col("w"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(CMS_WIDTH),
        ).cast("int"),
    )
    total = words.agg(F.count("*").alias("n_tok"))
    est = F.min("cnt").alias("est")
    return (
        probes.join(F.broadcast(merged), ["r", "c"])
        .groupBy("w", "n_exact")
        .agg(est)
        .crossJoin(F.broadcast(total))
        .select(
            "w",
            "n_exact",
            (
                (F.col("est") >= F.col("n_exact"))
                & (F.col("est") <= F.col("n_tok"))
            ).alias("cms_ok"),
        )
    )


q_cms_counts.__doc__ = q_cms_counts.__doc__.format(
    top=CMS_TOP, cells=CMS_DEPTH * CMS_WIDTH, depth=CMS_DEPTH
)


SQL_CMS_COUNTS = f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
SELECT w, COUNT(*) AS n_exact, TRUE AS cms_ok
FROM w GROUP BY w
ORDER BY n_exact DESC, w
LIMIT {CMS_TOP}
"""


# --------------------------------------------------------------------
# text_readability
# --------------------------------------------------------------------

# Flesch reading ease as an exact rational, single pinned division:
# F = 206.835 − 1.015·(W/S) − 84.6·(Y/W) with W words, S sentences,
# Y vowel-group syllables. Over the common denominator 1000·S·W:
# num = 206835·S·W − 1015·W² − 84600·Y·S, den = 1000·S·W — both exact
# integers (decimal(38,0) ↔ HUGEINT: 1015·W² leaves int64 near
# W ≈ 3·10⁹ words per document), micro-quantized through ONE shared
# division. The den = 0 branch is a defensive guard only: W = 0
# documents are filtered out BEFORE the per-doc aggregation in both
# engines (see the docstring's output contract), so every emitted
# row has W ≥ 1 and den ≥ 1000.
_FLESCH_EXPR = (
    "CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE) * CAST(num AS DOUBLE))"
    " / CAST(den AS DOUBLE), 0) AS BIGINT) END"
)
# Conventional Flesch bands, compared on the already-quantized micro
# score (pure int64 compares — nothing for the engines to disagree on)
_FLESCH_BAND_EXPR = (
    "CASE WHEN fm IS NULL THEN NULL"
    " WHEN fm >= 90000000 THEN 'very_easy'"
    " WHEN fm >= 70000000 THEN 'easy'"
    " WHEN fm >= 50000000 THEN 'medium'"
    " WHEN fm >= 30000000 THEN 'difficult'"
    " ELSE 'very_difficult' END"
)


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease score with the classic
    vowel-group syllable proxy — the readability signal the
    text-quality family (``quality_gopher`` repetition rules,
    ``quality_classifier`` linear model, ``entropy_score``) lacked
    (VERDICT r10 #3): curriculum ordering and easy/hard corpus splits
    key off exactly this scalar in C4/CCNet-style pipelines.

    Definitions (all deterministic string algebra, no model): words =
    non-empty single-space tokens of lower(text); syllables per word =
    count of maximal ``[aeiouy]+`` runs, floored at 1 (vowelless
    tokens — numbers, symbols — scan as one syllable); sentences =
    count of maximal ``[.!?]+`` runs, floored at 1 (headline-style
    fragments score as one sentence; the driver fixtures are
    punctuation-free so they ride this floor — the multi-sentence
    path is pinned by the planted pytest). The score is the exact
    rational over the common denominator (see ``_FLESCH_EXPR``),
    micro-quantized once; band thresholds compare the quantized
    integer, so band and score can never disagree cross-engine.

    Output contract (ADVICE r11): documents whose text yields ZERO
    non-empty tokens are DROPPED from the output — the explode +
    ``length(w) > 0`` filter removes them before the per-doc
    aggregation in BOTH engines, so no W = 0 row ever forms and the
    ``den = 0 → NULL`` branch in ``_FLESCH_EXPR`` is a defensive
    guard, not a reachable state. A consumer that must keep every
    doc_id left-joins this output back onto ``documents`` (the score
    column comes back NULL for token-less docs, which is the same
    verdict — "no defined readability").

    Scale shape: map-only — one documents scan, one explode bounded
    by document length, one combinable per-doc aggregation keyed on
    high-cardinality doc_id, zero joins (the sentence count rides the
    groupBy key, computed before the explode). Scan-bound at 100 TB
    by construction.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
            F.lit(1),
        ).cast("long").alias("n_sentences"),
        F.explode(tokens(F.lower(F.col("text")))).alias("w"),
    ).where(F.length("w") > 0)
    syl = F.greatest(
        F.size(F.regexp_extract_all(F.col("w"), F.lit("[aeiouy]+"), 0)),
        F.lit(1),
    ).cast("long")
    agg = base.groupBy("doc_id", "n_sentences").agg(
        F.count("*").alias("n_words"),
        F.sum(syl).alias("n_syllables"),
    )
    dec = "decimal(38,0)"
    s, w, y = (F.col(c).cast(dec) for c in ("n_sentences", "n_words", "n_syllables"))
    num = (
        F.lit(206835).cast(dec) * s * w
        - F.lit(1015).cast(dec) * w * w
        - F.lit(84600).cast(dec) * y * s
    ).cast(dec)
    den = (F.lit(1000).cast(dec) * s * w).cast(dec)
    return (
        agg.withColumn("num", num)
        .withColumn("den", den)
        .withColumn("fm", F.expr(_FLESCH_EXPR))
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.col("fm").alias("flesch_micro"),
            F.expr(_FLESCH_BAND_EXPR).alias("band"),
        )
    )


SQL_TEXT_READABILITY = f"""
WITH s AS (
  SELECT doc_id,
         GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                  1) AS n_sentences,
         string_split(lower(text), ' ') AS t
  FROM documents
),
w AS (
  SELECT doc_id, n_sentences, w
  FROM (SELECT doc_id, n_sentences, unnest(t) AS w FROM s)
  WHERE length(w) > 0
),
agg AS (
  SELECT doc_id, n_sentences,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(GREATEST(
             CAST(len(regexp_extract_all(w, '[aeiouy]+')) AS BIGINT), 1))
           AS BIGINT) AS n_syllables
  FROM w GROUP BY doc_id, n_sentences
),
g AS (
  SELECT doc_id, n_words, n_sentences, n_syllables,
         CAST(206835 AS HUGEINT) * n_sentences * n_words
           - CAST(1015 AS HUGEINT) * n_words * n_words
           - CAST(84600 AS HUGEINT) * n_syllables * n_sentences AS num,
         CAST(1000 AS HUGEINT) * n_sentences * n_words AS den
  FROM agg
),
f AS (
  SELECT doc_id, n_words, n_sentences, n_syllables,
         {_FLESCH_EXPR} AS fm
  FROM g
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       fm AS flesch_micro,
       {_FLESCH_BAND_EXPR} AS band
FROM f
"""


# --------------------------------------------------------------------
# zipf_fit
# --------------------------------------------------------------------

ZIPF_TOP = 100  # head of the rank-frequency curve the line is fit to


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-exponent fit of the corpus rank-frequency curve — the
    classic corpus-health scalar: natural language reads s ≈ 1 on the
    log-log rank-frequency plot; template/boilerplate-heavy corpora
    flatten (s « 1), and a tiny-vocabulary spam corpus steepens. One
    row: token/vocab totals, the fitted exponent, intercept, and R²
    ("how Zipfian is this corpus at all") over the top-``ZIPF_TOP``
    ranks — the head is where Zipf's law holds and where the fit is
    stable; the long tail is Heaps-law territory and deliberately
    excluded (fixed cutoff = deterministic contract).

    Exactness: the only transcendentals are per-point ``log2`` of
    exact-int doubles, micro-quantized through the pinned ROUND
    expression (the ``entropy_score`` rule — log2 of int-valued
    doubles matches bitwise across engines); the OLS closed forms
    then run on exact integer sufficient statistics over those
    quantized points with ONE pinned double sequence per output (the
    ``trend_linfit`` scaffold: slope/R² micro-quantized, intercept
    already in micro-log2 units). Ranking ties break on the word
    itself, so the top-``ZIPF_TOP`` set and its ranks are a total
    order in both engines.

    Scale shape: one corpus scan → one map-side-combinable word
    count; the top-head is a ``TakeOrderedAndProject`` (distributed
    heap, never a global sort); the rank window and the OLS run on
    the BOUNDED ≤``ZIPF_TOP``-row head (the bounded-carry
    exception); vocab/token totals are one combinable 1-row
    aggregate broadcast back. No corpus-sized window anywhere.
    """
    from ..functions.numeric import suffstat_agg

    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") > 0
    )
    freq = w.groupBy("w").agg(F.count("*").alias("f"))
    tot = freq.groupBy().agg(
        F.count("*").alias("vocab_size"),
        F.sum("f").alias("n_tokens"),
    )
    top = freq.orderBy(F.desc("f"), "w").limit(ZIPF_TOP)
    win = Window.partitionBy().orderBy(F.desc("f"), "w")
    micro_log2 = "CAST(ROUND(log2(CAST({} AS DOUBLE)) * 1000000, 0) AS BIGINT)"
    pts = top.withColumn("r", F.row_number().over(win)).select(
        F.expr(micro_log2.format("r")).alias("x"),
        F.expr(micro_log2.format("f")).alias("y"),
    )
    stats = pts.groupBy().agg(*suffstat_agg(F.col("x"), F.col("y")))
    # Zipf's s is the NEGATED slope of the descending log-log curve;
    # the shared scaffold (ols_log_micro_cols) owns the pinned
    # sequences and the zero-variance NULL rules
    from ..functions.numeric import ols_log_micro_cols

    s_micro, icept, r2 = ols_log_micro_cols(negate_slope=True)
    return (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "n_tokens",
            "vocab_size",
            F.col("n").alias("top_n"),
            s_micro.alias("zipf_s_micro"),
            icept.alias("intercept_log2_micro"),
            r2.alias("r2_micro"),
        )
    )


def _sql_zipf_fit() -> str:
    from ..functions.numeric import ols_log_micro_sql

    return f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
w2 AS (SELECT w FROM w WHERE length(w) > 0),
freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM w2 GROUP BY w),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(f) AS BIGINT) AS n_tokens
  FROM freq
),
top AS (SELECT w, f FROM freq ORDER BY f DESC, w LIMIT {ZIPF_TOP}),
pts AS (
  SELECT
    CAST(ROUND(log2(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w)
                         AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
    CAST(ROUND(log2(CAST(f AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
  FROM top
),
stats AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pts
)
SELECT n_tokens, vocab_size, n AS top_n,
{ols_log_micro_sql("zipf_s_micro", "intercept_log2_micro", "r2_micro",
                   negate_slope=True)}
FROM stats, tot
"""


SQL_ZIPF_FIT = _sql_zipf_fit()


# --------------------------------------------------------------------
# heaps_fit
# --------------------------------------------------------------------

HEAPS_CHECKPOINTS = 16  # growth-curve sample points


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit — ``zipf_fit``'s companion
    corpus-health scalar: V(T) ≈ K·T^β (distinct words vs tokens
    seen). Natural corpora read β ≈ 0.4–0.6; β → 0 means the
    vocabulary saturates (templates, dedup-worthy boilerplate), β →
    1 means near-every-token-novel (OCR noise, random strings). The
    output is the growth CURVE itself (one row per checkpoint:
    cumulative tokens and cumulative vocabulary) plus the fitted
    β / intercept / R² repeated on every row — curve for the eye,
    scalars for the gate.

    Distributed formulation — the naive "distinct words so far" is
    inherently sequential, so the lane never computes it that way:
    a word's contribution to every prefix is fully determined by its
    FIRST-occurrence doc (one combinable ``min(doc_id)`` per word),
    and the curve is sampled at ``HEAPS_CHECKPOINTS`` value-based
    doc_id thresholds cp_i = the smallest checkpoint covering the
    doc (ceil-bucketed via integer arithmetic — a declared contract;
    doc_ids are dense in the fixtures but nothing requires it).
    Bucketed vocab/token counts then prefix-sum over the BOUNDED
    16-row checkpoint frame (the bounded-carry window exception).
    Everything before that frame is one scan + two combinable
    aggregates keyed on word / checkpoint index.

    Exactness: cumulative counts are exact int64; the OLS runs the
    ``zipf_fit`` scaffold verbatim — per-point micro-quantized log2
    (the ``entropy_score`` rule), exact integer sufficient
    statistics, pinned slope/intercept/R² sequences. Zero-token
    checkpoints (possible when every doc in a bucket is empty) are
    excluded from the fit but still reported in the curve.
    """
    from ..functions.numeric import suffstat_agg

    d = load_table(spark, sf_dir, "documents")
    # GREATEST(max_id, 1): a corpus whose max doc_id is 0 must not
    # divide by zero (ANSI throw / NULL-swallowing divergence — the
    # round-11 review's catch); the clamp below routes such ids to
    # checkpoint 1, which is the correct prefix
    mx = d.groupBy().agg(
        F.greatest(F.max("doc_id"), F.lit(1)).alias("max_id")
    )
    cp = HEAPS_CHECKPOINTS
    # bucket = smallest checkpoint index covering this doc_id:
    # ceil(doc_id * cp / max_id), clamped to [1, cp]. doc_id promotes
    # to decimal(38,0) BEFORE the *cp multiply (the repo's
    # promote-before-multiply rule, ADVICE r11: a raw int64 multiply
    # overflows past doc_id ≈ 5.8e17 — loud under ANSI, but an
    # undeclared seam); the HUGEINT twin lives in the SQL mirror.
    bucket = (
        f"GREATEST(LEAST(CAST((CAST(doc_id AS decimal(38,0)) * {cp}"
        f" + max_id - 1) div max_id"
        f" AS INT), {cp}), 1)"
    )
    toks = (
        d.crossJoin(F.broadcast(mx))
        .select(
            F.expr(bucket).alias("b"),
            "doc_id",
            F.explode(F.split("text", " ")).alias("w"),
        )
        .where(F.length("w") > 0)
    )
    per_b_tokens = toks.groupBy("b").agg(
        F.count("*").alias("t"),
    )
    first = toks.groupBy("w").agg(F.min("b").alias("fb"))
    per_b_vocab = first.groupBy("fb").agg(F.count("*").alias("v"))
    frame = spark.range(1, cp + 1).select(F.col("id").cast("int").alias("b"))
    win = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        frame.join(F.broadcast(per_b_tokens), "b", "left")
        .join(
            F.broadcast(per_b_vocab),
            frame["b"] == per_b_vocab["fb"],
            "left",
        )
        .select(
            "b",
            F.coalesce("t", F.lit(0)).alias("t"),
            F.coalesce("v", F.lit(0)).alias("v"),
        )
        .withColumn("tokens_cum", F.sum("t").over(win).cast("long"))
        .withColumn("vocab_cum", F.sum("v").over(win).cast("long"))
        .select(
            F.col("b").alias("checkpoint"),
            "tokens_cum",
            "vocab_cum",
        )
    )
    micro_log2 = "CAST(ROUND(log2(CAST({} AS DOUBLE)) * 1000000, 0) AS BIGINT)"
    pts = curve.where(
        (F.col("tokens_cum") > 0) & (F.col("vocab_cum") > 0)
    ).select(
        F.expr(micro_log2.format("tokens_cum")).alias("x"),
        F.expr(micro_log2.format("vocab_cum")).alias("y"),
    )
    stats = pts.groupBy().agg(*suffstat_agg(F.col("x"), F.col("y")))
    from ..functions.numeric import ols_log_micro_cols

    beta, icept, r2 = ols_log_micro_cols()
    fit = stats.select(
        F.col("n").alias("n_fit_points"),
        beta.alias("heaps_beta_micro"),
        icept.alias("intercept_log2_micro"),
        r2.alias("r2_micro"),
    )
    return curve.crossJoin(F.broadcast(fit))


def _sql_heaps_fit() -> str:
    from ..functions.numeric import ols_log_micro_sql

    cp = HEAPS_CHECKPOINTS
    return f"""
WITH mx AS (SELECT GREATEST(MAX(doc_id), 1) AS max_id FROM documents),
toks AS (
  SELECT GREATEST(LEAST(CAST((CAST(doc_id AS HUGEINT) * {cp}
                              + max_id - 1) // max_id
                             AS INT), {cp}), 1) AS b,
         w
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ), mx
  WHERE length(w) > 0
),
per_b_tokens AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM toks GROUP BY b),
first AS (SELECT w, MIN(b) AS fb FROM toks GROUP BY w),
per_b_vocab AS (SELECT fb, CAST(COUNT(*) AS BIGINT) AS v FROM first GROUP BY fb),
frame AS (SELECT CAST(unnest(generate_series(1, {cp})) AS INT) AS b),
curve AS (
  SELECT frame.b AS checkpoint,
         CAST(SUM(COALESCE(pt.t, 0)) OVER (ORDER BY frame.b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS tokens_cum,
         CAST(SUM(COALESCE(pv.v, 0)) OVER (ORDER BY frame.b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS vocab_cum
  FROM frame
  LEFT JOIN per_b_tokens pt ON pt.b = frame.b
  LEFT JOIN per_b_vocab pv ON pv.fb = frame.b
),
pts AS (
  SELECT CAST(ROUND(log2(CAST(tokens_cum AS DOUBLE)) * 1000000, 0)
           AS BIGINT) AS x,
         CAST(ROUND(log2(CAST(vocab_cum AS DOUBLE)) * 1000000, 0)
           AS BIGINT) AS y
  FROM curve WHERE tokens_cum > 0 AND vocab_cum > 0
),
stats AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pts
),
fit AS (
  SELECT n AS n_fit_points,
{ols_log_micro_sql("heaps_beta_micro", "intercept_log2_micro",
                   "r2_micro")}
  FROM stats
)
SELECT checkpoint, tokens_cum, vocab_cum,
       n_fit_points, heaps_beta_micro, intercept_log2_micro, r2_micro
FROM curve, fit
"""


SQL_HEAPS_FIT = _sql_heaps_fit()


# --------------------------------------------------------------------
# text_yule_k
# --------------------------------------------------------------------

# Yule's K = 10⁴·(S2 − N)/N² and the unbiased Simpson repeat rate
# (S2 − N)/(N·(N−1)) from the frequency-spectrum second moment
# S2 = Σ_w f_w². Each a single pinned micro division of exact
# integers cast to double ONCE; N < 2 has no token pair to repeat
# → NULL for the rate; K is 0 at N = 1 by the same algebra (S2 = 1).
_YULE_K_EXPR = (
    "CAST(ROUND((CAST(10000000000 AS DOUBLE)"
    " * CAST(s2 - n_tokens AS DOUBLE))"
    " / CAST(n2_big AS DOUBLE), 0) AS BIGINT)"
)
_SIMPSON_EXPR = (
    "CASE WHEN n_tokens < 2 THEN CAST(NULL AS BIGINT)"
    " ELSE CAST(ROUND((CAST(1000000 AS DOUBLE)"
    " * CAST(s2 - n_tokens AS DOUBLE))"
    " / CAST(nn1_big AS DOUBLE), 0) AS BIGINT) END"
)


def q_text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K characteristic and the unbiased Simpson repeat rate
    per language — the frequency-SPECTRUM leg of the corpus-health
    family: ``entropy_score`` reads per-document token entropy,
    ``zipf_fit`` the rank-frequency head's slope, and this lane the
    spectrum's second moment — K = 10⁴·(Σ_w f_w² − N)/N², Yule's
    length-invariant repetitiveness constant (Yule 1944; Tweedie &
    Baayen 1998 show K is the stable one among the classic
    "constants" — TTR and Herdan's C drift with N, which is exactly
    why a per-language screen needs K and not TTR). A corpus slice
    whose K jumps has lost lexical diversity (template spam,
    boilerplate floods) even when mean doc length and language mix
    look unchanged; the Simpson rate (S2 − N)/(N(N−1)) is the same
    moment as an unbiased probability — two random distinct token
    positions carry the same word.

    Tokens are the repo convention: non-empty single-space tokens of
    ``lower(text)`` (``tokens`` ↔ ``string_split``). A language
    whose documents are ALL token-less emits no row (the
    ``text_readability`` dropped-not-NULL contract); N = 1 gives
    K = 0 exactly (S2 = 1) and a NULL repeat rate (no pair exists).

    Exactness: frequencies are int64; S2 accumulates via
    ``exact_product_sum`` (decimal ↔ HUGEINT — f² wraps int64 past
    f ≈ 3·10⁹); N², N(N−1) promote before multiplying; each output
    statistic is one pinned micro division of exact integers cast to
    double once. Declared seam (the n_wedges precedent): the
    ``s2`` output column is int64 and fails LOUD past 9.2·10¹⁸ on
    both engines; the micro statistics divide the uncapped decimals.

    Scale shape: two map-side-combinable aggregates — (lang, word)
    frequencies, then the |langs|-bounded moment rollup; zero joins,
    zero windows, zero broadcasts. The (lang, word) shuffle is the
    vocabulary aggregate every BPE/TF-IDF lane already pays; nothing
    here is corpus-proportional after it.
    """
    from ..functions.numeric import exact_product_sum
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    ).where(F.length("w") > 0)
    freq = toks.groupBy("lang", "w").agg(F.count("*").alias("f"))
    dec = "decimal(38,0)"
    g = freq.groupBy("lang").agg(
        F.sum("f").alias("n_tokens"),
        F.count("*").alias("n_types"),
        exact_product_sum(F.col("f"), F.col("f")).cast(dec).alias("s2"),
    )
    g = g.withColumn(
        "n2_big",
        (F.col("n_tokens").cast(dec) * F.col("n_tokens").cast(dec)).cast(dec),
    ).withColumn(
        "nn1_big",
        (
            F.col("n_tokens").cast(dec) * (F.col("n_tokens") - 1).cast(dec)
        ).cast(dec),
    )
    # the shared micro expressions read the uncapped decimal s2; the
    # OUTPUT s2 column re-aliases it through the int64 cap afterwards
    return g.select(
        "lang",
        "n_tokens",
        "n_types",
        F.col("s2").cast("long").alias("s2"),
        F.expr(_YULE_K_EXPR).alias("yule_k_micro"),
        F.expr(_SIMPSON_EXPR).alias("simpson_micro"),
    )


SQL_TEXT_YULE_K = f"""
WITH toks AS (
  SELECT lang, w
  FROM (
    SELECT lang, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  )
  WHERE length(w) > 0
),
freq AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS f
  FROM toks GROUP BY lang, w
),
g AS (
  SELECT lang,
         CAST(SUM(f) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         SUM(CAST(f AS HUGEINT) * f) AS s2
  FROM freq GROUP BY lang
),
m AS (
  SELECT *,
         CAST(n_tokens AS HUGEINT) * n_tokens AS n2_big,
         CAST(n_tokens AS HUGEINT) * (n_tokens - 1) AS nn1_big
  FROM g
)
SELECT lang, n_tokens, n_types, CAST(s2 AS BIGINT) AS s2,
       {_YULE_K_EXPR} AS yule_k_micro,
       {_SIMPSON_EXPR} AS simpson_micro
FROM m
"""


# --------------------------------------------------------------------
# len_lognormal_fit
# --------------------------------------------------------------------

# Population moments of the micro-log2 lengths: mean = S1/n,
# σ = sqrt(n·S2 − S1²)/n — one pinned micro division / one
# correctly-rounded sqrt (the assortativity precedent); n ≥ 1 by
# construction (langs only form from docs), σ of a single doc is 0.
_LEN_MEAN_EXPR = (
    "CAST(ROUND(CAST(s1 AS DOUBLE) / n_docs, 0) AS BIGINT)"
)
_LEN_STD_EXPR = (
    "CAST(ROUND(sqrt(CAST(v_num AS DOUBLE)) / n_docs, 0) AS BIGINT)"
)
_LEN_BAND_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * n_within) / n_docs, 0)"
    " AS BIGINT)"
)


def q_len_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of the document-length distribution per
    language — the data-SHAPE drift detector for an ingest pipeline:
    natural-text corpora have approximately log-normal length
    distributions, so the (μ, σ) of log₂ n_chars is a stable
    per-slice signature, and a slice whose empirical mass inside
    μ ± σ drifts from the normal ≈ 68.3% has changed SHAPE
    (truncation, padding, a flood of fixed-length template docs) —
    a change neither the mean length nor the language mix reports.
    Output per language: doc count, μ and σ in micro-log2, the
    within-band count, and its micro fraction.

    Two-phase by necessity (the ``token_budget_select`` precedent):
    the band [μ−σ, μ+σ] depends on the global moments, so phase 1
    computes exact per-language sufficient statistics (S1, S2 of the
    micro-quantized log₂ lengths — the ``zipf_fit`` quantization
    rule, so both engines compare the SAME integers), and phase 2
    re-scans documents against the |langs|-row bounded band table
    (broadcast — it cannot grow with the corpus). The band bounds
    are the already-rounded integer outputs μ_micro ± σ_micro, so
    the within count is an exact integer comparison — no float
    boundary can disagree cross-engine.

    Zero-length documents carry no log-length and are dropped from
    BOTH phases (the ``text_readability`` dropped-not-NULL
    contract, applied to n_chars < 1).

    Exactness: x = micro-log2(n_chars) int64; S1/S2 decimal ↔
    HUGEINT; V = n·S2 − S1² exact; mean/σ are one pinned division /
    sqrt each; the band fraction is one pinned micro division of
    exact counts.

    Scale shape: two combinable aggregates over documents + one
    broadcast of the |langs|-row band table onto the second scan —
    zero windows, zero corpus-sized joins; scan-bound twice (the
    honest price of a data-dependent band; a single-pass
    approximation would trade exactness for one scan).
    """
    from ..functions.numeric import exact_product_sum

    micro_log2 = (
        "CAST(ROUND(log2(CAST({} AS DOUBLE)) * 1000000, 0) AS BIGINT)"
    )
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") >= 1)
    xs = d.select(
        "lang", F.expr(micro_log2.format("n_chars")).alias("x")
    )
    dec = "decimal(38,0)"
    g = xs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("s1"),
        exact_product_sum(F.col("x"), F.col("x")).cast(dec).alias("s2"),
    )
    g = g.withColumn(
        "v_num",
        (
            F.col("n_docs").cast(dec) * F.col("s2")
            - F.col("s1") * F.col("s1")
        ).cast(dec),
    )
    stats = g.select(
        "lang",
        "n_docs",
        F.expr(_LEN_MEAN_EXPR).alias("mean_log2_micro"),
        F.expr(_LEN_STD_EXPR).alias("std_log2_micro"),
    )
    bands = stats.select(
        "lang",
        "n_docs",
        "mean_log2_micro",
        "std_log2_micro",
        (F.col("mean_log2_micro") - F.col("std_log2_micro")).alias("lo"),
        (F.col("mean_log2_micro") + F.col("std_log2_micro")).alias("hi"),
    )
    within = (
        xs.join(F.broadcast(bands), "lang")
        .where((F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        .groupBy("lang")
        .agg(F.count("*").alias("n_within"))
    )
    return (
        bands.join(within, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "mean_log2_micro",
            "std_log2_micro",
            F.coalesce("n_within", F.lit(0)).alias("n_within"),
        )
        .withColumn("within_1sd_micro", F.expr(_LEN_BAND_EXPR))
    )


SQL_LEN_LOGNORMAL_FIT = f"""
WITH xs AS (
  SELECT lang,
         CAST(ROUND(log2(CAST(n_chars AS DOUBLE)) * 1000000, 0)
           AS BIGINT) AS x
  FROM documents WHERE n_chars >= 1
),
g AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
         SUM(CAST(x AS HUGEINT) * x) AS s2
  FROM xs GROUP BY lang
),
v AS (
  SELECT *,
         CAST(n_docs AS HUGEINT) * s2 - s1 * s1 AS v_num
  FROM g
),
stats AS (
  SELECT lang, n_docs,
         {_LEN_MEAN_EXPR} AS mean_log2_micro,
         {_LEN_STD_EXPR} AS std_log2_micro
  FROM v
),
bands AS (
  SELECT *,
         mean_log2_micro - std_log2_micro AS lo,
         mean_log2_micro + std_log2_micro AS hi
  FROM stats
),
w AS (
  SELECT xs.lang, CAST(COUNT(*) AS BIGINT) AS n_within
  FROM xs JOIN bands ON xs.lang = bands.lang
  WHERE xs.x >= bands.lo AND xs.x <= bands.hi
  GROUP BY xs.lang
)
SELECT bands.lang, n_docs, mean_log2_micro, std_log2_micro,
       COALESCE(w.n_within, 0) AS n_within,
       {_LEN_BAND_EXPR} AS within_1sd_micro
FROM bands LEFT JOIN w ON bands.lang = w.lang
"""


# --------------------------------------------------------------------
# word_adaptation
# --------------------------------------------------------------------

ADAPT_TOP = 50  # head of the collection-frequency ranking reported

# adaptation = P(word occurs again | occurred once) = df2/df — exact
# integer counts, one pinned micro division; df ≥ 1 by construction
# (a word only exists through some document).
_ADAPT_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * df2) / df, 0) AS BIGINT)"
)


def q_word_adaptation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale word adaptation over the corpus's top words — the
    per-WORD burstiness statistic (Church & Gale 1995, "Poisson
    mixtures"): for each of the ``ADAPT_TOP`` highest
    collection-frequency words, the probability that a document
    containing the word contains it AGAIN — adaptation =
    P(tf ≥ 2 | tf ≥ 1) = df2/df. Under a Poisson (topic-free) model
    this is small and tied to cf/df; real content words "adapt"
    (a document about a topic repeats its terms), function words do
    not — so the (cf rank, adaptation) table separates topical
    vocabulary from glue and flags template floods (boilerplate
    words read function-word adaptation at content-word frequency).
    Complements ``text_yule_k`` (corpus-level second moment) with
    the per-word view, and ``event_interarrival`` (burstiness in
    time) with burstiness across documents.

    Output per word: cf (total occurrences), df (documents
    containing it), df2 (documents containing it ≥ 2 times), and
    adaptation in micros. Top ``ADAPT_TOP`` by cf, ties broken by
    word ascending — a total order, so the cut is deterministic.

    Exactness: all counts exact int64 (cf ≤ corpus tokens — int64 to
    ~9.2e18); adaptation is one pinned micro division (df ≥ 1 by
    construction). Tokens are the repo convention (non-empty
    single-space tokens of lower(text)).

    Scale shape: (doc_id, word) tf aggregate → per-word combinable
    rollup (cf/df/df2 in ONE pass — df2 is a conditional sum, not a
    second scan) → TakeOrderedAndProject for the bounded head. Two
    exchanges + the top-k; zero joins, zero windows, zero
    broadcasts.
    """
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col("text")))).alias("w"),
        )
        .where(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    per_word = tf.groupBy("w").agg(
        F.sum("tf").alias("cf"),
        F.count("*").alias("df"),
        F.sum((F.col("tf") >= 2).cast("long")).alias("df2"),
    )
    top = per_word.orderBy(F.desc("cf"), "w").limit(ADAPT_TOP)
    return top.select(
        F.col("w").alias("word"),
        "cf",
        "df",
        "df2",
        F.expr(_ADAPT_EXPR).alias("adaptation_micro"),
    )


SQL_WORD_ADAPTATION = f"""
WITH tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  )
  WHERE length(w) > 0
  GROUP BY doc_id, w
),
per_word AS (
  SELECT w,
         CAST(SUM(tf) AS BIGINT) AS cf,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM tf GROUP BY w
)
SELECT w AS word, cf, df, df2,
       {_ADAPT_EXPR} AS adaptation_micro
FROM per_word
ORDER BY cf DESC, w
LIMIT {ADAPT_TOP}
"""


# --------------------------------------------------------------------
# text_mattr
# --------------------------------------------------------------------

MATTR_WINDOW = 25  # tokens per sliding window

# MATTR = Σ_windows distinct(w) / (n_windows · W), one pinned micro
# division of exact integers; docs shorter than the window emit no
# row (no full window exists — the dropped-not-NULL contract).
_MATTR_EXPR = (
    "CAST(ROUND((CAST(1000000 AS DOUBLE) * distinct_sum)"
    " / (CAST(n_windows AS DOUBLE) * {w}), 0) AS BIGINT)"
)


def q_text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio (MATTR, Covington & McFall
    2010) per document — the WINDOWED lexical-diversity statistic:
    plain TTR drifts with document length (the reason
    ``text_yule_k`` exists at corpus level), and MATTR removes the
    drift by averaging TTR over every sliding ``MATTR_WINDOW``-token
    window, making scores comparable across documents of different
    lengths — the per-document diversity screen next to the
    corpus-level K.

    The distributed formulation is the contribution (the
    ``heaps_fit`` discipline — never walk the windows sequentially):
    a token at position p with previous same-word occurrence at
    prev(p) (0 if none) is the FIRST occurrence of its word inside
    the window starting at s iff max(p−W+1, prev+1) ≤ s ≤
    min(p, n−W+1) — so its total contribution to
    Σ_windows distinct(w) is the CLOSED-FORM interval length
    max(0, min(p, n−W+1) − max(p−W+1, prev+1) + 1), and the whole
    double sum collapses to one per-token expression over a single
    (doc, word)-partitioned lag window. Σ_windows distinct(w) /
    (n_windows · W) is then one pinned micro division of exact
    integers.

    Exactness: positions, prev, and the interval lengths are exact
    int64 (distinct_sum ≤ n·W); one pinned division. Docs with
    fewer than W tokens are dropped in BOTH engines (documented —
    no full window exists; MATTR is undefined there by the paper's
    definition).

    Scale shape: explode bounded by document length, ONE lag window
    partitioned by (doc_id, word) — high-cardinality keys, no
    skew concentration — then one combinable per-doc aggregate. In
    fact ONE exchange total (plan-pinned): every window and the
    aggregate cluster on doc_id or a refinement of it, so the
    single hash(doc_id) shuffle satisfies all of them and the rest
    are in-partition sorts. Zero joins, zero broadcasts.
    """
    from ..functions.text import tokens

    w = MATTR_WINDOW
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.posexplode(tokens(F.lower(F.col("text")))).alias("p0", "w"),
        )
        .where(F.length("w") > 0)
        # re-rank positions AFTER the empty-token filter so p is the
        # 1-based index into the non-empty token sequence (split on
        # runs of spaces leaves empties that must not occupy slots)
        .withColumn(
            "p",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("p0")
            ).cast("long"),
        )
    )
    lagw = Window.partitionBy("doc_id", "w").orderBy("p")
    per_tok = toks.withColumn(
        "prev", F.coalesce(F.lag("p").over(lagw), F.lit(0))
    )
    n_w = Window.partitionBy("doc_id")
    per_tok = per_tok.withColumn("n", F.max("p").over(n_w)).where(
        F.col("n") >= w
    )
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("p"), F.col("n") - w + 1)
        - F.greatest(F.col("p") - w + 1, F.col("prev") + 1)
        + 1,
    )
    g = per_tok.groupBy("doc_id").agg(
        F.max("n").alias("n_tokens"),
        F.sum(contrib).alias("distinct_sum"),
    )
    g = g.withColumn("n_windows", F.col("n_tokens") - w + 1)
    return g.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        "distinct_sum",
        F.expr(_MATTR_EXPR.format(w=w)).alias("mattr_micro"),
    )


def _sql_text_mattr() -> str:
    w = MATTR_WINDOW
    return f"""
WITH raw AS (
  SELECT doc_id, w, p0
  FROM (
    SELECT doc_id,
           unnest(string_split(lower(text), ' ')) AS w,
           generate_subscripts(string_split(lower(text), ' '), 1) AS p0
    FROM documents
  )
  WHERE length(w) > 0
),
toks AS (
  SELECT doc_id, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY p0) AS p
  FROM raw
),
lagged AS (
  SELECT doc_id, w, p,
         COALESCE(lag(p) OVER (PARTITION BY doc_id, w ORDER BY p), 0)
           AS prev,
         MAX(p) OVER (PARTITION BY doc_id) AS n
  FROM toks
),
per AS (
  SELECT doc_id, n,
         GREATEST(0, LEAST(p, n - {w} + 1)
                     - GREATEST(p - {w} + 1, prev + 1) + 1) AS contrib
  FROM lagged WHERE n >= {w}
),
g AS (
  SELECT doc_id,
         CAST(MAX(n) AS BIGINT) AS n_tokens,
         CAST(MAX(n) - {w} + 1 AS BIGINT) AS n_windows,
         CAST(SUM(contrib) AS BIGINT) AS distinct_sum
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_windows, distinct_sum,
       {_MATTR_EXPR.format(w=w)} AS mattr_micro
FROM g
"""


SQL_TEXT_MATTR = _sql_text_mattr()


# --------------------------------------------------------------------
# tokenizer_vocab_overlap
# --------------------------------------------------------------------

VOCAB_OVERLAP_K = 256  # per-language top-K token budget


def q_tokenizer_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise overlap of the per-language top-{k} token
    vocabularies — the multilingual-tokenizer planning table: when
    two languages share a large slice of their head vocabulary
    (scripts, loanwords, code/markup debris), a shared subword
    budget stretches further; near-zero overlap says the vocab must
    be partitioned. ``vocab_coverage`` grades ONE chosen vocab
    against all languages; this lane quantifies how far any shared
    vocab CAN go, before choosing.

    Token convention: the vocab_coverage split — ``split(text, ' ')``
    — and the (count DESC, token ASC) total order; the per-language
    head is the top-{k} of that order (languages with fewer than {k}
    distinct tokens contribute them all; ``n_a``/``n_b`` report the
    actual set sizes). Every unordered language pair appears — pairs
    with NO shared head tokens are synthesized with n_shared = 0
    (the interesting rows for the partitioning decision). Jaccard
    and the Szymkiewicz-Simpson overlap coefficient are each ONE
    pinned half-up micro division on exact set counts.

    Scale shape: one map-side-combinable (lang, token) count
    shuffle (vocabulary-sized, never row-sized), a per-language
    CONSTANT-k rank window Catalyst executes as WindowGroupLimit
    (per-partition state is k rows), then everything — the
    self-join, the pair cross join, the divisions — runs on the
    ≤ |langs|·{k}-row head frame. Zero row-sized joins.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    counts = toks.groupBy("lang", "w").agg(F.count("*").alias("n"))
    win = Window.partitionBy("lang").orderBy(F.desc("n"), "w")
    head = (
        counts.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= VOCAB_OVERLAP_K)
        .select("lang", "w")
    )
    sizes = head.groupBy("lang").agg(F.count("*").cast("long").alias("sz"))
    a = sizes.select(F.col("lang").alias("la"), F.col("sz").alias("n_a"))
    b = sizes.select(F.col("lang").alias("lb"), F.col("sz").alias("n_b"))
    pairs = a.crossJoin(b).where(F.col("la") < F.col("lb"))
    ha = head.select(F.col("lang").alias("la"), "w")
    hb = head.select(F.col("lang").alias("lb"), "w")
    shared = (
        ha.join(hb, "w")
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    dec = "decimal(38,0)"
    jac = (
        "CASE WHEN n_a + n_b - n_shared = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(n_shared AS {big})"
        " + (n_a + n_b - n_shared))"
        " {div} (2 * CAST(n_a + n_b - n_shared AS {big})) AS BIGINT) END"
    )
    ovl = (
        "CASE WHEN least(n_a, n_b) = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(n_shared AS {big})"
        " + least(n_a, n_b))"
        " {div} (2 * CAST(least(n_a, n_b) AS {big})) AS BIGINT) END"
    )
    return (
        pairs.join(shared, ["la", "lb"], "left")
        .withColumn("n_shared", F.coalesce(F.col("n_shared"), F.lit(0)))
        .select(
            F.col("la").alias("lang_a"),
            F.col("lb").alias("lang_b"),
            "n_a",
            "n_b",
            "n_shared",
            F.expr(jac.format(big=dec, div="div")).alias("jaccard_micro"),
            F.expr(ovl.format(big=dec, div="div")).alias("overlap_micro"),
        )
    )


q_tokenizer_vocab_overlap.__doc__ = q_tokenizer_vocab_overlap.__doc__.format(
    k=VOCAB_OVERLAP_K
)


def _sql_tokenizer_vocab_overlap() -> str:
    jac = (
        "CASE WHEN n_a + n_b - n_shared = 0 THEN NULL"
        " ELSE CAST((2 * CAST(1000000 AS HUGEINT)"
        " * CAST(n_shared AS HUGEINT) + (n_a + n_b - n_shared))"
        " // (2 * CAST(n_a + n_b - n_shared AS HUGEINT)) AS BIGINT) END"
    )
    ovl = (
        "CASE WHEN least(n_a, n_b) = 0 THEN NULL"
        " ELSE CAST((2 * CAST(1000000 AS HUGEINT)"
        " * CAST(n_shared AS HUGEINT) + least(n_a, n_b))"
        " // (2 * CAST(least(n_a, n_b) AS HUGEINT)) AS BIGINT) END"
    )
    return f"""
WITH t AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
),
c AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS n
  FROM t GROUP BY lang, w
),
h AS (
  SELECT lang, w FROM (
    SELECT lang, w,
           row_number() OVER (PARTITION BY lang
                              ORDER BY n DESC, w) AS rn
    FROM c
  ) WHERE rn <= {VOCAB_OVERLAP_K}
),
sz AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS sz FROM h GROUP BY lang),
pairs AS (
  SELECT a.lang AS la, b.lang AS lb, a.sz AS n_a, b.sz AS n_b
  FROM sz a CROSS JOIN sz b WHERE a.lang < b.lang
),
sh AS (
  SELECT x.lang AS la, y.lang AS lb,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM h x JOIN h y ON x.w = y.w AND x.lang < y.lang
  GROUP BY x.lang, y.lang
),
j AS (
  SELECT p.la, p.lb, p.n_a, p.n_b,
         COALESCE(sh.n_shared, 0) AS n_shared
  FROM pairs p LEFT JOIN sh ON p.la = sh.la AND p.lb = sh.lb
)
SELECT la AS lang_a, lb AS lang_b, n_a, n_b, n_shared,
       {jac} AS jaccard_micro,
       {ovl} AS overlap_micro
FROM j
"""


SQL_TOKENIZER_VOCAB_OVERLAP = _sql_tokenizer_vocab_overlap()


# --------------------------------------------------------------------
# eval_lang_confusion
# --------------------------------------------------------------------


def q_eval_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix evaluation of the marker-token language
    identifier against the labeled ``lang`` column — the per-class
    quality report a lang-ID gate needs before it routes documents
    (aggregate accuracy hides exactly the minority-class failures
    that matter; per-class recall is where a starved language shows
    first). One row per TRUE class with exact counts, precision,
    recall, F1, plus the corpus accuracy and macro-F1 repeated on
    every row (the theta-on-both-rows convention).

    Exactness: the confusion cells are ONE combinable
    groupBy(truth, pred) — a bounded ≤ (n_langs+1)² frame (the
    'und' fallback adds a predicted-only class); tp/fp/fn are exact
    sums over that frame; precision, recall, and accuracy are ONE
    pinned half-up micro division each, and F1 = 2tp/(2tp+fp+fn) is
    computed as its OWN single pinned division — never composed
    from the already-rounded P and R micros (double rounding is the
    seam VERDICT r13 #5 closed; composing readouts would reopen
    it). macro-F1 is the half-up mean of the per-class F1 micros
    over the TRUE classes — a documented second-level division on
    micro-quantized terms (the anova cross-group rule). A class
    never predicted has precision NULL (0/0) and F1 0 when tp = 0.

    Scale shape: one combinable aggregate to the bounded confusion
    frame; margins and every division run on it. Zero data joins,
    zero data windows.
    """
    dec = "decimal(38,0)"
    d = load_table(spark, sf_dir, "documents").select(
        "lang", lang_by_markers(F.col("text")).alias("pred")
    )
    cells = d.groupBy("lang", "pred").agg(F.count("*").alias("c"))
    # margins from the bounded cell frame; TRUE classes whose
    # diagonal cell is absent (tp = 0) still get rows via the
    # truth-side base join
    truth = (
        cells.groupBy("lang").agg(F.sum("c").cast("long").alias("n_true"))
    )
    predm = (
        cells.groupBy("pred").agg(F.sum("c").cast("long").alias("n_pred"))
    )
    tot = cells.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("lang") == F.col("pred"), F.col("c")).otherwise(0)
        ).cast("long").alias("n_correct"),
    )
    diag = (
        cells.where(F.col("lang") == F.col("pred"))
        .select("lang", F.col("c").cast("long").alias("tp"))
    )
    base = (
        truth.join(
            predm, truth.lang == predm.pred, "left"
        )
        .select("lang", "n_true", F.coalesce("n_pred", F.lit(0)).alias("n_pred"))
        .join(diag, "lang", "left")
        .withColumn("tp", F.coalesce(F.col("tp"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    prec = (
        "CASE WHEN n_pred = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(tp AS {big})"
        " + n_pred) {div} (2 * CAST(n_pred AS {big})) AS BIGINT) END"
    )
    rec = (
        "CASE WHEN n_true = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(tp AS {big})"
        " + n_true) {div} (2 * CAST(n_true AS {big})) AS BIGINT) END"
    )
    f1 = (
        "CASE WHEN 2 * tp + (n_pred - tp) + (n_true - tp) = 0"
        " THEN CAST(0 AS BIGINT)"
        " ELSE CAST((2 * CAST(1000000 AS {big}) * CAST(2 * tp AS {big})"
        " + (2 * tp + (n_pred - tp) + (n_true - tp)))"
        " {div} (2 * CAST(2 * tp + (n_pred - tp) + (n_true - tp)"
        " AS {big})) AS BIGINT) END"
    )
    acc = (
        "CAST((2 * CAST(1000000 AS {big}) * CAST(n_correct AS {big})"
        " + n_docs) {div} (2 * CAST(n_docs AS {big})) AS BIGINT)"
    )
    scored = (
        base.withColumn("precision_micro", F.expr(prec.format(big=dec, div="div")))
        .withColumn("recall_micro", F.expr(rec.format(big=dec, div="div")))
        .withColumn("f1_micro", F.expr(f1.format(big=dec, div="div")))
        .withColumn("accuracy_micro", F.expr(acc.format(big=dec, div="div")))
        .withColumn(
            "macro_f1_micro",
            F.expr(
                "CAST((2 * CAST(SUM(f1_micro) OVER () AS decimal(38,0))"
                " + COUNT(*) OVER ())"
                " div (2 * CAST(COUNT(*) OVER () AS decimal(38,0)))"
                " AS BIGINT)"
            ),
        )
    )
    return scored.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        "precision_micro",
        "recall_micro",
        "f1_micro",
        "accuracy_micro",
        "macro_f1_micro",
    )


def _sql_eval_lang_confusion() -> str:
    prec = (
        "CASE WHEN n_pred = 0 THEN NULL"
        " ELSE CAST((2 * CAST(1000000 AS HUGEINT) * CAST(tp AS HUGEINT)"
        " + n_pred) // (2 * CAST(n_pred AS HUGEINT)) AS BIGINT) END"
    )
    rec = (
        "CASE WHEN n_true = 0 THEN NULL"
        " ELSE CAST((2 * CAST(1000000 AS HUGEINT) * CAST(tp AS HUGEINT)"
        " + n_true) // (2 * CAST(n_true AS HUGEINT)) AS BIGINT) END"
    )
    f1 = (
        "CASE WHEN 2 * tp + (n_pred - tp) + (n_true - tp) = 0"
        " THEN CAST(0 AS BIGINT)"
        " ELSE CAST((2 * CAST(1000000 AS HUGEINT) * CAST(2 * tp AS HUGEINT)"
        " + (2 * tp + (n_pred - tp) + (n_true - tp)))"
        " // (2 * CAST(2 * tp + (n_pred - tp) + (n_true - tp)"
        " AS HUGEINT)) AS BIGINT) END"
    )
    acc = (
        "CAST((2 * CAST(1000000 AS HUGEINT) * CAST(n_correct AS HUGEINT)"
        " + n_docs) // (2 * CAST(n_docs AS HUGEINT)) AS BIGINT)"
    )
    return f"""
WITH p AS ({SQL_LANG_ID}),
cells AS (
  SELECT lang, pred_lang AS pred, CAST(COUNT(*) AS BIGINT) AS c
  FROM p GROUP BY lang, pred_lang
),
truth AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_true FROM cells GROUP BY lang
),
predm AS (
  SELECT pred, CAST(SUM(c) AS BIGINT) AS n_pred FROM cells GROUP BY pred
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN lang = pred THEN c ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM cells
),
diag AS (
  SELECT lang, CAST(c AS BIGINT) AS tp FROM cells WHERE lang = pred
),
base AS (
  SELECT t.lang, t.n_true, COALESCE(pm.n_pred, 0) AS n_pred,
         COALESCE(d.tp, 0) AS tp, n_docs, n_correct
  FROM truth t
  LEFT JOIN predm pm ON t.lang = pm.pred
  LEFT JOIN diag d ON t.lang = d.lang
  CROSS JOIN tot
),
scored AS (
  SELECT lang, n_true, n_pred, tp,
         {prec} AS precision_micro,
         {rec} AS recall_micro,
         {f1} AS f1_micro,
         {acc} AS accuracy_micro
  FROM base
)
SELECT lang, n_true, n_pred, tp, precision_micro, recall_micro,
       f1_micro, accuracy_micro,
       CAST((2 * CAST(SUM(f1_micro) OVER () AS HUGEINT)
             + COUNT(*) OVER ())
            // (2 * CAST(COUNT(*) OVER () AS HUGEINT)) AS BIGINT)
         AS macro_f1_micro
FROM scored
"""


SQL_EVAL_LANG_CONFUSION = _sql_eval_lang_confusion()


QUERIES: list[Query] = [
    Query("text_stats", q_text_stats, SQL_TEXT_STATS, bench=True),
    Query("doc_fingerprint", q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    Query("lang_id", q_lang_id, SQL_LANG_ID),
    Query("lang_id_ngram", q_lang_id_ngram, None),
    Query("quality_gopher", q_quality_gopher, SQL_QUALITY_GOPHER),
    Query("pii_redact", q_pii_redact, SQL_PII_REDACT),
    Query("tfidf_top_terms", q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS, bench=True),
    Query("quality_classifier", q_quality_classifier, SQL_QUALITY_CLASSIFIER, bench=True),
    Query("strip_markup", q_strip_markup, SQL_STRIP_MARKUP),
    Query("ngram_counts", q_ngram_counts, SQL_NGRAM_COUNTS, bench=True),
    Query("entropy_score", q_entropy_score, SQL_ENTROPY_SCORE),
    Query("content_chunks", q_content_chunks, SQL_CONTENT_CHUNKS, bench=True),
    Query("word_filter", q_word_filter, SQL_WORD_FILTER),
    Query("pmi_cooccur", q_pmi_cooccur, SQL_PMI_COOCCUR),
    Query("freq_items_topk", q_freq_items_topk, SQL_FREQ_ITEMS_TOPK),
    Query("vocab_coverage", q_vocab_coverage, SQL_VOCAB_COVERAGE),
    Query("url_canonicalize", q_url_canonicalize, SQL_URL_CANONICALIZE),
    Query("cms_counts", q_cms_counts, SQL_CMS_COUNTS),
    Query("text_readability", q_text_readability, SQL_TEXT_READABILITY),
    Query("zipf_fit", q_zipf_fit, SQL_ZIPF_FIT),
    Query("heaps_fit", q_heaps_fit, SQL_HEAPS_FIT),
    Query("text_yule_k", q_text_yule_k, SQL_TEXT_YULE_K),
    Query("len_lognormal_fit", q_len_lognormal_fit, SQL_LEN_LOGNORMAL_FIT),
    Query("word_adaptation", q_word_adaptation, SQL_WORD_ADAPTATION),
    Query("text_mattr", q_text_mattr, SQL_TEXT_MATTR),
    Query("tokenizer_vocab_overlap", q_tokenizer_vocab_overlap, SQL_TOKENIZER_VOCAB_OVERLAP),
    Query("eval_lang_confusion", q_eval_lang_confusion, SQL_EVAL_LANG_CONFUSION),
]
