"""Similarity search over the ``embeddings`` table (SURVEY.md §2B).

- ``sim_topk``      brute-force cosine top-k vs a fixed query vector
                    (oracle: Spark's double fold matches DuckDB's
                    list_cosine_similarity on DOUBLE[] bitwise)
- ``sim_join``      pairwise similarity join above a threshold, blocked
                    on the label column (oracle)
- ``ann_ivf_topk``  IVF-style approximate top-k: deterministic
                    centroids, nearest-cluster probe (rows-only — the
                    approximation has no SQL ground truth)

Scale: brute-force top-k is a single scan + TakeOrderedAndProject —
fine whenever the query batch is small. The |D|² similarity join is the
thing to kill at 100 TB: here it's blocked on `label` (a stand-in for
any coarse partitioner); the IVF variant shows the real pattern —
assign once (cheap scan), then search only within probed cells.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..plans.spec import Query
from ..sources.catalog import load_table, spread

QUERY_VEC_ID = 0  # deterministic "query": the embedding of vec_id 0
TOP_K = 10


def _query_vec(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: scan, score, TakeOrderedAndProject.

    The 1-row query side is crossJoin-broadcast so scoring is a map-only
    stage; no shuffle until the final k-row merge.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    scored = (
        spread(emb.where(F.col("vec_id") != QUERY_VEC_ID))
        .crossJoin(F.broadcast(_query_vec(emb)))
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qvec")).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(TOP_K)


SQL_SIM_TOPK = f"""
SELECT e.vec_id, e.label,
       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                              CAST(q.embedding AS DOUBLE[])) AS cos_sim
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
WHERE e.vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT {TOP_K}
"""


SIM_JOIN_THRESHOLD = 0.3


def q_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine-similarity join within label blocks, cos ≥ 0.3.

    Blocking on an equi key turns the quadratic crossJoin into a hash
    join + per-block pair expansion — the same shape LSH bucketing
    produces, but exact (hence oracle-checkable). A size guard refuses
    oversized inputs and points at the LSH lane (:mod:`.guards`,
    VERDICT r4 #5).
    """
    from .guards import guard_fixture_quadratic

    guard_fixture_quadratic(sf_dir, "embeddings", "sim_join", "sim_join_lsh")
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "label"
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "label"
    )
    return (
        a.join(b, "label")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cosine(F.col("ea"), F.col("eb")))
        .where(F.col("cos_sim") >= SIM_JOIN_THRESHOLD)
        .select("label", "vec_a", "vec_b", "cos_sim")
    )


SQL_SIM_JOIN = f"""
SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {SIM_JOIN_THRESHOLD}
"""


N_CENTROIDS = 16
N_PROBE = 4


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k, numpy-accelerated.

    "Training" is deterministic: the first N_CENTROIDS embeddings (by
    vec_id) act as centroids, collected once driver-side (16 tiny rows —
    the IVF "model"). Assignment and scoring run as ``mapInPandas``
    batch matmuls: the JVM higher-order-function fold used by the exact
    operators does NOT whole-stage-codegen (it is interpreted per row —
    measured ~10× slower than Arrow+numpy on 50k×64 vectors), so the
    approximate path, which owes no oracle bitwise parity, takes the
    vectorized lane. Ties broken by lowest centroid id (np.argmax).

    Scale: one assignment pass over |D|; each query then touches only
    probe/cells of the data. Real IVF k-means the centroids; the plan
    shape (tiny broadcast model, cell-pruned search) is identical.
    """
    import numpy as np

    from ..session import tune

    tune(spark)
    emb = spread(load_table(spark, sf_dir, "embeddings"))

    cent_rows = (
        emb.where(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )
    cent_rows.sort(key=lambda r: r.vec_id)
    C = np.array([r.embedding for r in cent_rows], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    qrow = emb.where(F.col("vec_id") == QUERY_VEC_ID).select("embedding").first()
    q = np.array(qrow.embedding, dtype=np.float64)
    q /= np.linalg.norm(q)

    # the query's probe cells, computed on the driver (16-dot "model")
    probe_cells = [int(c) for c in np.argsort(-(C @ q))[:N_PROBE]]

    def assign_and_score(batches):
        for pdf in batches:
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            Vn = V / norms
            cells = np.argmax(Vn @ C.T, axis=1)
            keep = np.isin(cells, probe_cells)
            out = pdf.loc[keep, ["vec_id", "label"]].copy()
            out["cell"] = cells[keep].astype("int32")
            out["cos_sim"] = Vn[keep] @ q
            yield out

    scored = emb.where(F.col("vec_id") != QUERY_VEC_ID).mapInPandas(
        assign_and_score, "vec_id long, label int, cell int, cos_sim double"
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(TOP_K)


# 32 bands × 16 bits. Wider bands are the scale lever: random-pair
# collisions per band fall as 1/2^bits (for isotropic data), so 16-bit
# bands give 65536 buckets and ~64× fewer junk candidates than the
# 8-bit × 8-band config (measured: 39M → ~600k candidates at 50k random
# vectors), while recall at the cos≥0.9 near-dup operating point stays
# ≈ 1-(1-p^16)^32 ≈ 0.94 (p = 1-θ/π). The extra planes are one slightly
# larger matmul in the signature stage — noise next to the join.
N_PLANES = 512
LSH_BANDS = 32
LSH_BITS_PER_BAND = 16
EMB_DIM = 64


def _hyperplanes() -> list[list[float]]:
    """Deterministic random hyperplanes from a fixed LCG (engine-neutral,
    no RNG dependency — same planes every run on every machine)."""
    state = 0x2545F4914F6CDD1D
    planes: list[list[float]] = []
    for _ in range(N_PLANES):
        row = []
        for _ in range(EMB_DIM):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_candidate_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = SIM_JOIN_THRESHOLD,
) -> DataFrame:
    """Hyperplane-LSH similarity pairs over ANY (id, vector) frame —
    the shared kernel of :func:`q_sim_join_lsh` (raw embeddings) and
    ``dedup.q_dedup_semantic`` (whitened embeddings).

    Signature = sign bits of ⟨v, h_i⟩ for 512 fixed hyperplanes, split
    into 32 bands of 16 bits. Candidates collide on any band and are
    verified with exact cosine ≥ ``threshold``. Deterministic planes →
    stable output (rows-only: LSH recall has no SQL ground truth).

    Shuffle discipline: the pair join carries ONLY (band, id);
    vectors are re-attached by id after pair dedup — otherwise every
    candidate pair drags two 64-float arrays through the shuffle (a
    measured ~50× write amplification).

    Returns ``(vec_a, vec_b, cos_sim)`` with ``vec_a < vec_b``.
    """
    import numpy as np

    H = np.array(_hyperplanes(), dtype=np.float64)  # (64, dim)
    weights = 1 << np.arange(LSH_BITS_PER_BAND)

    base = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_vec")
    )

    def signatures(batches):
        # one matmul per Arrow batch: sign bits -> packed band values
        # (a 64-expression JVM tree for the same thing is interpreted
        # per-row and costs ~20s just to plan+evaluate at 500 rows)
        for pdf in batches:
            V = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            bits = (V @ H.T) > 0  # (n, 64)
            out_frames = []
            for b in range(LSH_BANDS):
                band = bits[:, b * LSH_BITS_PER_BAND : (b + 1) * LSH_BITS_PER_BAND]
                out_frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "band_idx": np.full(len(pdf), b, dtype="int32"),
                            "band_val": (band @ weights).astype("int32"),
                        }
                    )
                )
            yield pd.concat(out_frames, ignore_index=True)

    banded = base.mapInPandas(
        signatures, "vec_id long, band_idx int, band_val int"
    ).hint("shuffle_hash")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band_idx", "band_val"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = base.select(F.col("vec_id").alias("vec_a"), F.col("_vec").alias("ea"))
    eb = base.select(F.col("vec_id").alias("vec_b"), F.col("_vec").alias("eb"))

    # candidate verification is the hot loop (can be millions of pairs)
    # and this kernel owes no bitwise oracle (rows-only), so score
    # with a numpy-batched pandas UDF instead of the interpreted
    # higher-order-function fold — same SCALE.md §4 rule as IVF.
    @F.pandas_udf("double")
    def cos_batch(ea_s: pd.Series, eb_s: pd.Series) -> pd.Series:
        import numpy as np

        A = np.array(ea_s.tolist(), dtype=np.float64)
        B = np.array(eb_s.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    pairs = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos_sim", cos_batch(F.col("ea"), F.col("eb")))
        .where(F.col("cos_sim") >= threshold)
    )
    return pairs.select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))


def q_sim_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise similarity via random-hyperplane LSH — the 100 TB path
    (the shared kernel is :func:`lsh_candidate_pairs`; this operator
    binds it to the raw embeddings fixture).

    Recall ≈ 1-(1-p¹⁶)³² with p = 1-θ/π: ≈94% at cos 0.9 (the near-dup
    operating range), dropping sharply for unrelated pairs — that
    selectivity is the point. Band width is the scale lever (see the
    constants note): 16-bit bands keep junk-candidate volume ∝ 1/65536
    per pair; 4-bit bands were measured to generate ~300M pairs at 50k
    vectors and fill the shuffle disk, 8-bit ~39M, 16-bit ~600k.
    """
    from ..session import tune

    tune(spark)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return lsh_candidate_pairs(emb, "vec_id", "embedding", SIM_JOIN_THRESHOLD)


# Recall floor for the graded ann_ivf_topk invariant: measured 0.9
# (sf0.001) / 1.0 (sf0.01) with the deterministic first-N centroids and
# 4-of-16 probe; the floor leaves a 0.1 margin below the worst fixture.
IVF_RECALL_FLOOR = 0.8


def q_ann_ivf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graded contract for IVF approximate top-k: recall@k against
    the exact brute-force top-k (``sim_topk``) must clear a measured
    floor. The approximation itself has no SQL ground truth (probing
    4/16 cells may legitimately miss true neighbors), so the oracle
    checks the accuracy contract: output is a single row
    (k, recall_ok); the oracle asserts recall_ok = TRUE. Both sides
    are deterministic — centroids are the first N vectors by id and
    ties break by lowest id — so the boolean is stable per fixture.
    """
    ivf = q_ann_ivf_topk(spark, sf_dir).select("vec_id")
    brute = q_sim_topk(spark, sf_dir).select("vec_id")
    hits = brute.join(ivf, "vec_id", "left_semi").agg(
        F.count("*").alias("n_hit")
    )
    return hits.select(
        F.lit(TOP_K).alias("k"),
        (F.col("n_hit").cast("double") / TOP_K >= IVF_RECALL_FLOOR).alias(
            "recall_ok"
        ),
    )


SQL_ANN_IVF_CHECK = f"""
SELECT {TOP_K} AS k, TRUE AS recall_ok
"""


def q_emb_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix of the embedding corpus: G[i,j] = Σ_v v_i·v_j
    over all vectors, upper triangle (i ≤ j, 1-based) — the d×d
    sufficient statistic behind whitening, PCA, and ridge regression,
    and the canonical huge-N × small-d reduction: at 100 TB the ONLY
    thing that crosses the wire is d(d+1)/2 partial sums per task.

    Determinism: each float32 component widens exactly to double and
    the per-pair product is exact in double (24+24 ≤ 53 mantissa
    bits); the product then enters the repo's decimal-sum pattern
    (``functions/numeric.dsum``) so the aggregation is
    order/layout/engine-invariant and bitwise-hashable against DuckDB.

    Plan shape: two nested posexplodes (the second over the i-suffix
    slice, so only the upper triangle is generated: N·d(d+1)/2 rows),
    then ONE groupBy(i,j) with map-side-combinable decimal sums —
    2080 groups at d = 64, a trivial shuffle. The float64
    ``mapInPandas`` partial-Gram lane (:func:`emb_gram_fast`) is the
    production fast path — same output shape, last-bit drift allowed,
    equivalence-within-1e-6 pinned by pytest.
    """
    from ..functions.numeric import dsum

    e = spread(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        "embedding", F.posexplode("embedding").alias("i0", "vi")
    )
    b = a.select(
        (F.col("i0") + 1).alias("i"),
        "vi",
        F.posexplode(
            F.expr("slice(embedding, i0 + 1, size(embedding) - i0)")
        ).alias("dj", "vj"),
    )
    prod = F.col("vi").cast("double") * F.col("vj").cast("double")
    return (
        b.groupBy(
            F.col("i").cast("long").alias("i"),
            (F.col("i") + F.col("dj")).cast("long").alias("j"),
        )
        .agg(dsum(prod, "gram", 6))
    )


SQL_EMB_GRAM = """
WITH a AS (
  SELECT embedding,
         unnest(generate_series(1, len(embedding))) AS i,
         unnest(embedding) AS vi
  FROM embeddings
),
b AS (
  SELECT i,
         i - 1 + unnest(generate_series(1, len(embedding) - i + 1)) AS j,
         vi,
         unnest(embedding[i:len(embedding)]) AS vj
  FROM a
)
SELECT i, j,
       CAST(ROUND(SUM(CAST(CAST(vi AS DOUBLE) * CAST(vj AS DOUBLE)
                           AS DECIMAL(18,8))), 6) AS DOUBLE) AS gram
FROM b
GROUP BY i, j
"""


def emb_gram_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The float64 production lane of :func:`q_emb_gram`: each Arrow
    batch computes its partial Gram with one numpy ``X.T @ X`` (BLAS,
    no per-element Python), emits d(d+1)/2 (i, j, partial) rows, and
    one tiny groupBy(i,j) sums the partials — at any corpus size the
    shuffle is d(d+1)/2 rows per task, never data-sized. Last-bit
    float drift across layouts is the documented trade (the exact
    decimal lane exists for oracle-grade reproducibility);
    equivalence within 1e-6 is pinned by
    tests/test_operators.py::test_emb_gram_fast_matches_exact_lane.
    """
    from collections.abc import Iterator

    import numpy as np

    from ..session import tune

    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"))

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = x.T @ x
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "partial": g[iu, ju]}
            )

    parts = e.select("embedding").mapInPandas(
        _partial, "i long, j long, partial double"
    )
    return parts.groupBy("i", "j").agg(F.sum("partial").alias("gram"))


def emb_whiten(
    spark: SparkSession, sf_dir: str, eps: float = 1e-6
) -> DataFrame:
    """ZCA-whiten the embedding corpus — the full huge-N × small-d
    pattern end-to-end (SCALE.md §42): reduce the corpus to its
    sufficient statistics (n, Σv, Σvvᵀ — one distributed pass, d²+d
    doubles per task on the wire), solve the d×d eigenproblem on the
    DRIVER (O(d³) ≪ any data cost; numpy/LAPACK), broadcast the
    whitening matrix, and apply it in one map-only ``mapInPandas``
    batch-matmul pass. Nothing data-sized ever converges on one node,
    and the transform stage shuffles nothing.

    Output: (vec_id, white: array<double>) with empirical covariance
    ≈ I on non-degenerate directions (pinned within tolerance by
    tests/test_operators.py::test_emb_whiten_covariance_is_identity).
    Float64 partials carry last-bit layout drift — this is the
    production lane of the family whose exact member is
    :func:`q_emb_gram`.
    """
    from collections.abc import Iterator

    import numpy as np

    from ..session import tune

    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"))

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    parts = e.select("embedding").mapInPandas(
        _stats, "n long, s array<double>, g array<double>"
    ).collect()  # ≤ one row per task: d²+d doubles each, never data-sized
    n = sum(r.n for r in parts)
    s = np.sum([r.s for r in parts], axis=0)
    g = np.sum([r.g for r in parts], axis=0)
    d = s.shape[0]
    mu = s / n
    cov = (g.reshape(d, d) - n * np.outer(mu, mu)) / (n - 1)
    lam, v = np.linalg.eigh(cov)
    w = v @ np.diag(1.0 / np.sqrt(np.maximum(lam, 0) + eps)) @ v.T  # ZCA

    bc = spark.sparkContext.broadcast((mu, w))

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mu_b, w_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            y = (x - mu_b) @ w_b.T
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "white": list(y)}
            )

    return e.select("vec_id", "embedding").mapInPandas(
        _apply, "vec_id long, white array<double>"
    )


# --- distributed Lloyd's k-means over the embedding corpus -----------
#
# Everything is lifted to fixed point at ingestion (components
# quantized to integer micro-units — exact per numeric.py's
# no-midpoint argument, and round-half-away-from-zero agrees between
# Spark and DuckDB, verified empirically), so every distance, argmin,
# and centroid mean is EXACT integer arithmetic: associative,
# layout-independent, engine-neutral, bitwise-hashable. Squared L2 in
# µ²-units stays far inside int64 (64 dims × (1.2e6)² ≈ 9e13).
KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_SCALE = 1_000_000


def _kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT spread(): the per-round passes are vectorized
    # numpy over Arrow batches (per-row cost ~ns), so at fixture scale
    # the 32-way fan-out would only multiply per-task scheduling and
    # Python-worker round-trips by 5 jobs; at production scale the
    # source's own partitioning provides the parallelism
    e = load_table(spark, sf_dir, "embeddings")
    qe = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * KMEANS_SCALE, 0).cast("long"),
    )
    return e.select("vec_id", qe.alias("qe"))


def _kmeans_pass(q: DataFrame, centroids: list[list[int]], emit: str) -> DataFrame:
    """One corpus pass against the broadcast k×d model, Arrow-batched.

    The vectorized numpy int64 lane — not a JVM higher-order fold —
    because the fold is interpreted per row (the ``ann_ivf_topk``
    measurement) while this stays exact: ‖v−c‖² expands to
    v·v − 2 v·c + c·c in int64 (identical value to the summed squares,
    no rounding anywhere), and ``np.argmin``'s first-min-index rule IS
    the lowest-cluster-id tie break. ``emit='assign'`` yields one row
    per vector (map-only, no shuffle); ``emit='stats'`` yields ≤ k×d
    partial-sum rows per batch (sum + count per cluster×dimension),
    so the downstream groupBy ships model-sized partials only —
    exactly the ``emb_gram_fast`` sufficient-statistics shape.
    """
    from collections.abc import Iterator

    import numpy as np

    C = np.array(centroids, dtype=np.int64)
    cc = (C * C).sum(axis=1)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["qe"].tolist(), dtype=np.int64)
            vv = (V * V).sum(axis=1)
            dist = vv[:, None] - 2 * (V @ C.T) + cc[None, :]
            cl = np.argmin(dist, axis=1)
            if emit == "assign":
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "cluster": cl.astype(np.int64),
                        "dist_sq": dist[np.arange(len(cl)), cl],
                    }
                )
            else:
                d = V.shape[1]
                frames = []
                for j in np.unique(cl):
                    mask = cl == j
                    frames.append(
                        pd.DataFrame(
                            {
                                "cluster": np.full(d, j, dtype=np.int64),
                                "dim": np.arange(d, dtype=np.int64),
                                "s": V[mask].sum(axis=0),
                                "n": np.full(d, mask.sum(), dtype=np.int64),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

    schema = (
        "vec_id long, cluster long, dist_sq long"
        if emit == "assign"
        else "cluster long, dim long, s long, n long"
    )
    return q.mapInPandas(_run, schema)


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k = {k}, {iters} update rounds) —
    the clustering kernel behind semantic dedup (SemDeDup clusters
    before comparing), IVF index training, and diversity-balanced data
    selection. Init is deterministic: the embeddings of
    vec_id 0..{km1} are the starting centroids (the ``ann_ivf_topk``
    convention).

    Execution model is the canonical broadcast-model iteration: each
    round makes ONE Arrow-batched pass over the corpus (assignment
    against the closure-shipped k×d model — no data-sized shuffle),
    emitting ≤ k×d partial-sum rows per batch (per-cluster
    per-dimension sum + count), merges them with one tiny groupBy,
    collects ONLY that k×d model to the driver, and re-broadcasts the
    updated centroids into the next round's closure. Driver traffic is
    k·d rows per round at ANY corpus size; lineage stays flat because
    each round is a fresh plan over the quantized base frame. Empty
    clusters keep their previous centroid (both engines COALESCE the
    same way).

    Determinism: all arithmetic is fixed-point int64 (see the constants
    note above); the centroid mean is the midpoint-free half-up
    integer division shared with ``functions/numeric.fp_ratio``. The
    final output is the post-training assignment: (vec_id, cluster,
    dist_sq in µ²-units), bitwise-comparable to the oracle's CTE-chain
    replication of the same rounds.
    """
    from ..session import tune

    tune(spark)
    q = _kmeans_quantized(spark, sf_dir)
    return kmeans_train(q, KMEANS_K, KMEANS_ITERS)


def kmeans_fit(q: DataFrame, k: int, iters: int) -> list[list[int]]:
    """The Lloyd loop over any (vec_id, qe: array<long>) frame,
    returning the fitted k×d codebook — factored out so the
    empty-cluster carry-over and tie rules are unit-testable on
    engineered literal frames (the fixture never produces an empty
    cluster), and so ADC search (:func:`q_ann_pq_topk`) can build its
    lookup tables from the same centroids the encoder used."""
    init = q.where(F.col("vec_id") < k).select("vec_id", "qe").collect()
    init.sort(key=lambda r: r.vec_id)
    centroids = [list(r.qe) for r in init]

    for _ in range(iters):
        stats = (
            _kmeans_pass(q, centroids, "stats")
            .groupBy("cluster", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()  # ≤ k×d rows — the model, never data-sized
        )
        new = [list(c) for c in centroids]  # empty clusters carry over
        for r in stats:
            # half-away-from-zero integer mean, exact (fp_ratio's rule)
            mean = (2 * abs(r.s) + r.n) // (2 * r.n)
            new[r.cluster][r.dim] = mean if r.s >= 0 else -mean
        centroids = new
    return centroids


def kmeans_train(q: DataFrame, k: int, iters: int) -> DataFrame:
    """Fit + final assignment: (vec_id, cluster, dist_sq)."""
    return _kmeans_pass(q, kmeans_fit(q, k, iters), "assign")


q_kmeans_embeddings.__doc__ = q_kmeans_embeddings.__doc__.format(
    k=KMEANS_K, iters=KMEANS_ITERS, km1=KMEANS_K - 1
)


def _sql_kmeans_chain(p: str, k: int, iters: int, vec: str) -> str:
    """Generate one Lloyd-loop CTE chain (no leading WITH): the same
    quantization, assignment+update rounds, and final assignment as
    :func:`kmeans_train`, as plain SQL over unnested (vec_id, dim, v)
    rows so every step is exact integer relational algebra. ``p``
    prefixes every CTE name (so multiple chains compose — product
    quantization runs one per subspace); the final-assignment CTE is
    ``{p}m{iters + 1}`` with columns (vec_id, cl, dist)."""
    parts = [
        f"""
{p}q AS (
  SELECT vec_id,
         [CAST(round(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT)
          for x in {vec}] AS qe
  FROM embeddings
),
{p}qd AS (
  SELECT vec_id, unnest(generate_series(1, len(qe))) AS dim,
         unnest(qe) AS v
  FROM {p}q
),
{p}c0 AS (
  SELECT vec_id AS cl, dim, v AS cv FROM {p}qd WHERE vec_id < {k}
)"""
    ]
    for i in range(1, iters + 2):
        prev = f"{p}c{i - 1}"
        parts.append(
            f""",
{p}d{i} AS (
  SELECT qd.vec_id, c.cl,
         CAST(SUM((qd.v - c.cv) * (qd.v - c.cv)) AS BIGINT) AS dist
  FROM {p}qd qd JOIN {prev} c USING (dim)
  GROUP BY qd.vec_id, c.cl
),
{p}m{i} AS (
  SELECT vec_id, cl, dist FROM (
    SELECT vec_id, cl, dist,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cl) AS rn
    FROM {p}d{i}
  ) WHERE rn = 1
)"""
        )
        if i <= iters:  # the final assignment has no update step
            parts.append(
                f""",
{p}u{i} AS (
  SELECT m.cl, qd.dim,
         CAST((CASE WHEN SUM(qd.v) < 0 THEN -1 ELSE 1 END) *
              ((2 * abs(CAST(SUM(qd.v) AS BIGINT)) + COUNT(*))
               // (2 * COUNT(*))) AS BIGINT) AS cv
  FROM {p}m{i} m JOIN {p}qd qd ON m.vec_id = qd.vec_id
  GROUP BY m.cl, qd.dim
),
{p}c{i} AS (
  SELECT p.cl, p.dim, COALESCE(u.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN {p}u{i} u ON p.cl = u.cl AND p.dim = u.dim
)"""
            )
    return "".join(parts)


SQL_KMEANS_EMBEDDINGS = (
    "WITH "
    + _sql_kmeans_chain("", KMEANS_K, KMEANS_ITERS, "embedding")
    + f"""
SELECT vec_id, cl AS cluster, dist AS dist_sq FROM m{KMEANS_ITERS + 1}
"""
)


# Product quantization: M subspaces × K codes. 4×16 compresses the
# 64-dim float32 vector (256 bytes) to 4 nibbles + shared codebooks —
# the memory trick behind billion-scale ANN indexes (IVF-PQ).
PQ_SUBSPACES = 4
PQ_K = 16
PQ_ITERS = 2
PQ_SUB_DIM = EMB_DIM // PQ_SUBSPACES


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI'11 — the
    IVF-PQ compression stage): split each embedding into {m}
    subspaces, train a {k}-centroid fixed-point k-means codebook per
    subspace, and encode every vector as {m} code ids plus its exact
    total quantization error in µ²-units. At billion scale this is
    what makes the index fit in RAM: {m} small codes replace the raw
    vector, and distance queries decompose into per-subspace lookup
    tables.

    Execution: {m} independent Lloyd loops (:func:`kmeans_train` — the
    §49 broadcast-model iteration, k×d_sub driver model per round per
    subspace) over sliced quantized sub-vectors, then the per-vector
    codes join on vec_id (shuffle_hash-pinned — each side is
    corpus-sized). All arithmetic is fixed-point int64, so the oracle
    — {m} composed CTE chains from the shared generator — matches
    bitwise.
    """
    _, codes = _pq_fit(spark, sf_dir)
    err = sum(F.col(f"_e{m}") for m in range(PQ_SUBSPACES))
    return codes.select(
        "vec_id",
        *[f"code_{m}" for m in range(PQ_SUBSPACES)],
        err.alias("err_sq"),
    )


def _pq_fit(spark: SparkSession, sf_dir: str):
    """Train the per-subspace codebooks and encode the corpus: returns
    (codebooks, codes frame with code_m + per-subspace error columns).
    Shared by the encoder and the ADC search so both use the SAME
    fitted centroids."""
    from ..session import tune

    tune(spark)
    e = load_table(spark, sf_dir, "embeddings")
    books, codes = [], None
    for m in range(PQ_SUBSPACES):
        qm = _pq_sub_quantized(e, m)
        cb = kmeans_fit(qm, PQ_K, PQ_ITERS)
        books.append(cb)
        am = _kmeans_pass(qm, cb, "assign").select(
            "vec_id",
            F.col("cluster").alias(f"code_{m}"),
            F.col("dist_sq").alias(f"_e{m}"),
        )
        if codes is None:
            codes = am
        else:
            codes = codes.join(am.hint("shuffle_hash"), "vec_id")
    return books, codes


def _pq_sub_quantized(e: DataFrame, m: int) -> DataFrame:
    sub = F.slice("embedding", m * PQ_SUB_DIM + 1, PQ_SUB_DIM)
    return e.select(
        "vec_id",
        F.transform(
            sub,
            lambda x: F.round(x.cast("double") * KMEANS_SCALE, 0).cast(
                "long"
            ),
        ).alias("qe"),
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over the PQ codes —
    the query stage of IVF-PQ: the query's exact squared distance to
    each of the {m}×{k} codebook centroids becomes a tiny lookup
    table, and every database vector is scored by summing {m} table
    lookups on its codes instead of touching its raw floats. At
    billion scale this is why PQ search is memory-bandwidth-cheap:
    the scan reads {m} small codes per vector, the LUT lives in
    cache/closure.

    Everything is fixed-point int64 — the codebooks, the codes, the
    LUT, the summed score — so even this APPROXIMATE search is graded
    by a full bitwise oracle (the SQL replicates the chains, the LUT,
    and the lookup join exactly; no recall-contract indirection
    needed). Top-k on the (adc_dist ASC, vec_id ASC) total order →
    TakeOrderedAndProject.
    """
    books, codes = _pq_fit(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")

    # the query's quantized sub-vectors, via the SAME Spark expression
    # that quantized the corpus (engine-parity by construction)
    luts = []
    for m in range(PQ_SUBSPACES):
        qrow = (
            _pq_sub_quantized(e, m)
            .where(F.col("vec_id") == QUERY_VEC_ID)
            .first()
        )
        qv = list(qrow.qe)
        luts.append(
            [
                sum((a - b) * (a - b) for a, b in zip(qv, c))
                for c in books[m]
            ]
        )

    score = sum(
        F.element_at(
            F.array(*[F.lit(int(d)).cast("long") for d in luts[m]]),
            (F.col(f"code_{m}") + 1).cast("int"),
        )
        for m in range(PQ_SUBSPACES)
    )
    return (
        codes.where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", score.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


q_ann_pq_topk.__doc__ = q_ann_pq_topk.__doc__.format(m=PQ_SUBSPACES, k=PQ_K)


def _sql_ann_pq_topk() -> str:
    chains = ",".join(
        _sql_kmeans_chain(
            f"s{m}_",
            PQ_K,
            PQ_ITERS,
            f"embedding[{m * PQ_SUB_DIM + 1}:{(m + 1) * PQ_SUB_DIM}]",
        )
        for m in range(PQ_SUBSPACES)
    )
    final = f"m{PQ_ITERS + 1}"
    luts = ",".join(
        f"""
lut{m} AS (
  SELECT c.cl, CAST(SUM((qv.v - c.cv) * (qv.v - c.cv)) AS BIGINT) AS d
  FROM s{m}_qd qv JOIN s{m}_c{PQ_ITERS} c USING (dim)
  WHERE qv.vec_id = {QUERY_VEC_ID}
  GROUP BY c.cl
)"""
        for m in range(PQ_SUBSPACES)
    )
    joins = "\n".join(
        f"JOIN s{m}_{final} s{m} ON s{m}.vec_id = s0.vec_id"
        for m in range(1, PQ_SUBSPACES)
    ) + "\n" + "\n".join(
        f"JOIN lut{m} l{m} ON l{m}.cl = s{m}.cl"
        for m in range(PQ_SUBSPACES)
    )
    dist = " + ".join(f"l{m}.d" for m in range(PQ_SUBSPACES))
    return f"""
WITH {chains},{luts}
SELECT s0.vec_id, CAST({dist} AS BIGINT) AS adc_dist
FROM s0_{final} s0
{joins}
WHERE s0.vec_id != {QUERY_VEC_ID}
ORDER BY adc_dist ASC, s0.vec_id ASC
LIMIT {TOP_K}
"""


SQL_ANN_PQ_TOPK = _sql_ann_pq_topk()


q_pq_encode.__doc__ = q_pq_encode.__doc__.format(m=PQ_SUBSPACES, k=PQ_K)


def _sql_pq_encode() -> str:
    chains = ",".join(
        _sql_kmeans_chain(
            f"s{m}_",
            PQ_K,
            PQ_ITERS,
            f"embedding[{m * PQ_SUB_DIM + 1}:{(m + 1) * PQ_SUB_DIM}]",
        )
        for m in range(PQ_SUBSPACES)
    )
    final = f"m{PQ_ITERS + 1}"
    codes = ", ".join(f"s{m}.cl AS code_{m}" for m in range(PQ_SUBSPACES))
    err = " + ".join(f"s{m}.dist" for m in range(PQ_SUBSPACES))
    joins = "\n".join(
        f"JOIN s{m}_{final} s{m} ON s{m}.vec_id = s0.vec_id"
        for m in range(1, PQ_SUBSPACES)
    )
    return f"""
WITH {chains}
SELECT s0.vec_id, {codes}, CAST({err} AS BIGINT) AS err_sq
FROM s0_{final} s0
{joins}
"""


SQL_PQ_ENCODE = _sql_pq_encode()


ANN_SHORTLIST = 50


def q_ann_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN query shape (shortlist
    with the cheap index, re-rank the shortlist exactly): ADC over the
    PQ codes cuts the corpus to a {short}-candidate shortlist, then
    ONLY those candidates are re-scored with the exact (quantized)
    squared distance on the full vectors and cut to the top-{k}. At
    billion scale stage 1 reads {m} bytes of codes per vector and
    stage 2 touches {short} raw vectors total — the recall of exact
    search at a sliver of its bandwidth wherever the shortlist covers
    the true neighbors.

    Everything stays fixed-point int64 (the codebooks, the ADC lookup
    sums, the exact re-rank distances), so this approximate pipeline
    carries a FULL bitwise oracle end-to-end — the SQL reuses the ADC
    query text verbatim as its shortlist CTE (one source of truth)
    and re-ranks with the same quantization expression. Both cuts sit
    on total orders ((adc ASC, vec_id), then (exact ASC, vec_id)).
    Plan: the shortlist is {short}-row bounded ⇒ broadcast to the
    re-rank join by classification; the exact pass is one map-side
    array-fold over the joined rows.
    """
    books, codes = _pq_fit(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    luts = []
    for m in range(PQ_SUBSPACES):
        qrow = (
            _pq_sub_quantized(e, m)
            .where(F.col("vec_id") == QUERY_VEC_ID)
            .first()
        )
        qv = list(qrow.qe)
        luts.append(
            [
                sum((a - b) * (a - b) for a, b in zip(qv, c))
                for c in books[m]
            ]
        )
    score = sum(
        F.element_at(
            F.array(*[F.lit(int(d)).cast("long") for d in luts[m]]),
            (F.col(f"code_{m}") + 1).cast("int"),
        )
        for m in range(PQ_SUBSPACES)
    )
    shortlist = (
        codes.where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", score.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(ANN_SHORTLIST)
    )
    full = _kmeans_quantized(spark, sf_dir)
    qfull = list(
        full.where(F.col("vec_id") == QUERY_VEC_ID).first().qe
    )
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in qfull])
    exact = F.aggregate(
        F.zip_with(F.col("qe"), qlit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        full.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", "adc_dist", exact.alias("exact_dist"))
        .orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


q_ann_two_stage.__doc__ = q_ann_two_stage.__doc__.format(
    short=ANN_SHORTLIST, k=TOP_K, m=PQ_SUBSPACES
)


def _sql_ann_two_stage() -> str:
    """Oracle for :func:`q_ann_two_stage`: the ADC query text becomes
    the shortlist CTE verbatim (only its LIMIT widens to the shortlist
    size), then the exact re-rank runs on the same full-vector
    quantization the Spark side uses."""
    head, tail = SQL_ANN_PQ_TOPK.split("\nSELECT s0.vec_id", 1)
    inner = ("SELECT s0.vec_id" + tail).replace(
        f"LIMIT {TOP_K}", f"LIMIT {ANN_SHORTLIST}"
    )
    return f"""{head},
sl AS ({inner}),
fq AS (
  SELECT vec_id,
         [CAST(round(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT)
          for x in embedding] AS qe
  FROM embeddings
),
fqd AS (
  SELECT vec_id, unnest(generate_series(1, len(qe))) AS dim,
         unnest(qe) AS v
  FROM fq
),
qv AS (SELECT dim, v FROM fqd WHERE vec_id = {QUERY_VEC_ID}),
rr AS (
  SELECT f.vec_id,
         CAST(SUM((f.v - qv.v) * (f.v - qv.v)) AS BIGINT) AS exact_dist
  FROM fqd f
  JOIN qv USING (dim)
  JOIN sl ON sl.vec_id = f.vec_id
  GROUP BY f.vec_id
)
SELECT sl.vec_id, sl.adc_dist, rr.exact_dist
FROM sl JOIN rr USING (vec_id)
ORDER BY exact_dist ASC, vec_id ASC
LIMIT {TOP_K}
"""


SQL_ANN_TWO_STAGE = _sql_ann_two_stage()


def q_sim_join_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity join blocked by LEARNED k-means cells instead of a
    given key — the SemDeDup blocking discipline (cluster first,
    compare only within cells), exact and oracle-checkable because the
    fixed-point k-means assignment is itself bitwise-deterministic.
    ``sim_join`` blocks on the ``label`` column the fixture happens to
    carry; real corpora carry no such key, and this operator is the
    answer: the blocking key is TRAINED from the data, then the same
    hash-join + within-cell pair expansion applies. Quadratic only
    within a cell (guarded, with the LSH lane as the scale pointer —
    at 100 TB you raise k so cells stay bounded, which is exactly the
    IVF/SemDeDup recipe).
    """
    from .guards import guard_fixture_quadratic

    guard_fixture_quadratic(
        sf_dir, "embeddings", "sim_join_kmeans", "sim_join_lsh"
    )
    assigns = q_kmeans_embeddings(spark, sf_dir).select("vec_id", "cluster")
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # shuffle_hash: the assignment table is corpus-sized (one row per
    # vector) — never a broadcast candidate at scale
    base = emb.join(assigns.hint("shuffle_hash"), "vec_id")
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "cluster"
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "cluster"
    )
    return (
        a.join(b, "cluster")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cosine(F.col("ea"), F.col("eb")))
        .where(F.col("cos_sim") >= SIM_JOIN_THRESHOLD)
        .select("cluster", "vec_a", "vec_b", "cos_sim")
    )


SQL_SIM_JOIN_KMEANS = f"""
WITH asg AS ({SQL_KMEANS_EMBEDDINGS})
SELECT a2.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cos_sim
FROM embeddings a
JOIN asg a2 ON a.vec_id = a2.vec_id
JOIN asg b2 ON b2.cluster = a2.cluster
JOIN embeddings b ON b.vec_id = b2.vec_id
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {SIM_JOIN_THRESHOLD}
"""


def q_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph from LSH candidates — the 100 TB lane of
    ``relational8.q_knn_graph`` (which ranks exact label-block pairs).

    Candidates come from the banded hyperplane join
    (:func:`q_sim_join_lsh`), symmetrized so both endpoints rank their
    neighbors; the SAME top-k window then keeps each source's best
    k = 3 by (cosine DESC, neighbor id). Candidate volume ∝ true
    near-neighbors, never |block|² — only sources with at least one
    collision appear, which is the operating point: a retrieval /
    dedup graph over the near-dup range, not an all-pairs ranking.
    No SQL oracle (LSH recall has no engine-neutral ground truth on
    these fixtures); the planted-neighbor pytest pins accuracy and
    the bench entry pins wall-clock.
    """
    from pyspark.sql.window import Window

    from .relational8 import KNN_K

    pairs = q_sim_join_lsh(spark, sf_dir).select("vec_a", "vec_b", "cos_sim")
    sym = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "cos_sim"
    ).union(
        pairs.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "cos_sim"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), "dst")
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("src", "dst", "rank", "cos_sim")
    )


QUERIES: list[Query] = [
    Query("sim_topk", q_sim_topk, SQL_SIM_TOPK, bench=True),
    Query("sim_join", q_sim_join, SQL_SIM_JOIN, bench=True),
    Query("sim_join_lsh", q_sim_join_lsh, None, bench=True),
    Query("ann_ivf_topk", q_ann_ivf_check, SQL_ANN_IVF_CHECK),
    Query("emb_gram", q_emb_gram, SQL_EMB_GRAM, bench=True),
    Query("kmeans_embeddings", q_kmeans_embeddings, SQL_KMEANS_EMBEDDINGS, bench=True),
    Query("pq_encode", q_pq_encode, SQL_PQ_ENCODE),
    Query("ann_pq_topk", q_ann_pq_topk, SQL_ANN_PQ_TOPK),
    Query("ann_two_stage", q_ann_two_stage, SQL_ANN_TWO_STAGE),
    Query("sim_join_kmeans", q_sim_join_kmeans, SQL_SIM_JOIN_KMEANS),
    Query("knn_graph_lsh", q_knn_graph_lsh, None, bench=True),
]
