"""Operator-level unit tests on tiny literal frames + fixture edge cases.

The oracle differential (tools/oracle_check.py, driver CORRECTNESS)
covers value-level parity; these tests pin down *semantics* on edge
rows: nulls in join keys, empty groups, duplicate rows, late/short
inputs, media-stub plumbing.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _decode_stub,
    media_features,
)
from data_ingestion_s3_to_parquet_spark.plans.registry import REGISTRY


def test_registry_names_unique_and_callable():
    assert len(REGISTRY) >= 35
    for name, q in REGISTRY.items():
        assert q.name == name
        assert callable(q.fn)


def test_null_join_keys_excluded_from_inner_join(spark):
    left = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    right = spark.createDataFrame([(1, "x"), (None, "y")], "k int, w string")
    assert left.join(right, "k").count() == 1  # SQL semantics: null ≠ null


def test_dedup_exact_keeps_min_id(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.dedup import q_dedup_exact

    df = q_dedup_exact(spark, sf_dir)
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # representative id is the min per text group; row count = distinct texts
    assert df.count() == base.select("text").distinct().count()
    assert df.agg(F.min("doc_id")).first()[0] == base.agg(F.min("doc_id")).first()[0]


def test_sim_topk_is_sorted_desc(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.similarity import q_sim_topk

    rows = q_sim_topk(spark, sf_dir).collect()
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert len(rows) == 10


def test_ann_ivf_hits_overlap_brute_force(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        q_ann_ivf_topk,
        q_sim_topk,
    )

    exact = {r.vec_id for r in q_sim_topk(spark, sf_dir).collect()}
    approx = {r.vec_id for r in q_ann_ivf_topk(spark, sf_dir).collect()}
    # IVF with 4/16 probes should still recall a reasonable share of top-10
    assert len(exact & approx) >= 3


def test_media_features_plumbing(spark):
    rows = [
        (1, "image", b"\x89PNG\r\n\x1a\nxxxx", "image/png", 8, 8, None),
        (2, "audio", b"RIFFxxxxWAVE", "audio/wav", None, None, 44100),
        (3, "video", b"\x00\x00\x00\x18ftypmp42", "video/mp4", 640, 480, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in media_features(media).collect()}
    assert feats[1].header_hex.startswith("89504e47")  # PNG magic preserved
    assert feats[2].n_bytes == 12
    assert float(feats[3].byte_entropy) > 0.0


def test_decode_stub_is_explicitly_unimplemented():
    with pytest.raises(NotImplementedError):
        _decode_stub("image", b"bytes")


def test_lang_id_ngram_runs_and_is_deterministic(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.textstats import q_lang_id_ngram

    a = q_lang_id_ngram(spark, sf_dir).orderBy("doc_id").collect()
    b = q_lang_id_ngram(spark, sf_dir).orderBy("doc_id").collect()
    assert a == b
    assert all(r.pred_lang for r in a)


def test_minhash_lsh_finds_exact_duplicates(spark, tmp_path, monkeypatch):
    # plant exact + near duplicates in a documents-shaped table
    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (3, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup
        (4, "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from data_ingestion_s3_to_parquet_spark.operators.dedup import q_dedup_minhash_lsh

    pairs = {
        (r.doc_a, r.doc_b) for r in q_dedup_minhash_lsh(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in pairs


def test_sim_join_lsh_finds_high_cos_pairs(spark, tmp_path):
    # plant two nearly-identical vectors among noise: LSH at the
    # near-dup operating range (cos ~1) must recover the planted pair
    import math
    import random

    rng = random.Random(11)
    dim = 64
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v], i % 4))
    base = rows[0][1]
    rows.append((900, [x + rng.gauss(0, 0.001) for x in base], 0))  # near-dup of 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from data_ingestion_s3_to_parquet_spark.operators.similarity import q_sim_join_lsh

    pairs = {(r.vec_a, r.vec_b) for r in q_sim_join_lsh(spark, str(tmp_path)).collect()}
    assert (0, 900) in pairs


def test_dedup_embedding_drops_planted_near_dup(spark, tmp_path):
    # orthogonal basis vectors never collide; a copy of vec 0 with a
    # higher id and the same label must be the only casualty
    dim = 64
    rows = []
    for i in range(8):
        v = [0.0] * dim
        v[i] = 1.0
        rows.append((i, v, 0))
    rows.append((900, [1.0] + [0.0] * (dim - 1), 0))  # exact dup of vec 0
    rows.append((901, [1.0] + [0.0] * (dim - 1), 1))  # dup but other label
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from data_ingestion_s3_to_parquet_spark.operators.dedup import q_dedup_embedding

    kept = {r.vec_id for r in q_dedup_embedding(spark, str(tmp_path)).collect()}
    assert 900 not in kept
    assert kept == {0, 1, 2, 3, 4, 5, 6, 7, 901}


def test_dedup_components_merges_transitive_chain(spark, tmp_path):
    # chain 0~1~2 where cos(0,2)=0: only transitive closure puts all
    # three in one component; vec 3 is orthogonal to everything
    import math

    dim = 64
    e = lambda i: [1.0 if j == i else 0.0 for j in range(dim)]
    mid = [x / math.sqrt(2) for x in (1.0, 1.0)] + [0.0] * (dim - 2)
    rows = [(0, e(0), 0), (1, mid, 0), (2, e(1), 0), (3, e(2), 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from data_ingestion_s3_to_parquet_spark.operators.dedup import q_dedup_components

    comp = {r.vec_id: r.component for r in q_dedup_components(spark, str(tmp_path)).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3}


def test_sample_split_is_stable_and_roughly_ten_percent(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import q_sample_split

    a = {(r.doc_id, r.split) for r in q_sample_split(spark, sf_dir).collect()}
    b = {(r.doc_id, r.split) for r in q_sample_split(spark, sf_dir).collect()}
    assert a == b  # deterministic across runs
    n_test = sum(1 for _, s in a if s == "test")
    assert 0.03 <= n_test / len(a) <= 0.2


def test_emb_centroids_elementwise_mean(spark, tmp_path):
    rows = [
        (0, [1.0, 0.0, 3.0], 7),
        (1, [3.0, 2.0, 0.0], 7),
        (2, [8.0, 8.0, 8.0], 9),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        emb_centroids_vec,
        q_emb_centroids,
    )

    cent = {r.label: r.centroid for r in emb_centroids_vec(spark, str(tmp_path)).collect()}
    assert cent[7] == [2.0, 1.0, 1.5]
    assert cent[9] == [8.0, 8.0, 8.0]
    # the registry query emits the long scalar form (driver-hashable)
    long_rows = {
        (r.label, r.pos): r.c for r in q_emb_centroids(spark, str(tmp_path)).collect()
    }
    assert long_rows[(7, 1)] == 2.0 and long_rows[(7, 3)] == 1.5


def test_connected_components_over_lsh_candidate_edges(spark, tmp_path):
    # the scale wiring: LSH candidate pairs (approximate, output ∝ true
    # near-dups) feed the same hash-min loop that the exact operator
    # uses — plant two near-identical pairs and one isolated vector
    import random

    rng = random.Random(3)
    dim = 64
    rows = []
    for i in range(20):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)], 0))
    rows.append((100, [x + 0.001 for x in rows[0][1]], 0))   # ~dup of 0
    rows.append((101, [x + 0.001 for x in rows[5][1]], 0))   # ~dup of 5
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from data_ingestion_s3_to_parquet_spark.operators.dedup import connected_components
    from data_ingestion_s3_to_parquet_spark.operators.similarity import q_sim_join_lsh
    from pyspark.sql import functions as SF

    edges = q_sim_join_lsh(spark, str(tmp_path)).where(
        SF.col("cos_sim") >= 0.9
    ).select(SF.col("vec_a").alias("u"), SF.col("vec_b").alias("v"))
    verts = spark.read.parquet(str(tmp_path / "embeddings.parquet")).select("vec_id")
    comp = {r.vec_id: r.component for r in connected_components(edges, verts).collect()}
    assert comp[100] == comp[0] == 0
    assert comp[101] == comp[5] == 5
    assert comp[7] == 7


def test_interleave_mix_is_a_stride_schedule(spark, sf_dir):
    # composition property: over the whole mix, language s holds
    # min(n_s, expected-by-weight share) positions in weight proportion;
    # more precisely, within any prefix the count of language s is
    # within 1 of prefix_len * (w_s/LCM normalization) until s runs out.
    # We check the strong invariant that makes stride scheduling useful:
    # the k-th row of language s sits at mix_key (2k-1)*stride_s, so
    # per-language subsequences are evenly spaced — and the schedule is
    # deterministic across runs.
    from data_ingestion_s3_to_parquet_spark.operators.relational7 import (
        MIX_WEIGHTS,
        _MIX_LCM,
        q_interleave_mix,
    )

    rows = q_interleave_mix(spark, sf_dir).collect()
    again = q_interleave_mix(spark, sf_dir).collect()
    assert [r.doc_id for r in rows] == [r.doc_id for r in again]  # deterministic

    # mix_key formula holds exactly per language
    for r in rows:
        stride = _MIX_LCM // MIX_WEIGHTS.get(r.lang, 1)
        assert r.mix_key == (2 * r.rn - 1) * stride
    # early prefix composition: while no language is exhausted, a
    # prefix of length L holds ~L*w_s/sum(w) rows of s (±1 per source)
    total_w = sum(MIX_WEIGHTS.values())
    prefix = [r for r in rows if r.mix_pos <= 60]
    from collections import Counter

    got = Counter(r.lang for r in prefix)
    for lang, w in MIX_WEIGHTS.items():
        expect = 60 * w / total_w
        assert abs(got[lang] - expect) <= 1.5, (lang, got[lang], expect)


def test_text_normalize_is_idempotent_and_flags_changes(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational7 import (
        q_text_normalize,
    )

    rows = q_text_normalize(spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.n_chars_norm <= r.n_chars_raw or r.changed
        assert r.n_tokens_norm >= 1
        assert len(r.norm_fingerprint) == 32
    # fixture texts are lowercase single-spaced already or not — either
    # way the changed flag must agree with a direct recompute
    import pyspark.sql.functions as SF

    direct = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            (
                SF.trim(SF.regexp_replace(SF.lower(SF.col("text")), r"\s+", " "))
                != SF.col("text")
            ).alias("changed"),
        )
        .collect()
    )
    assert {r.doc_id: r.changed for r in rows} == {
        r.doc_id: r.changed for r in direct
    }


def test_ref_pairs_cache_matches_rebuild(spark, sf_dir, caplog):
    # the persisted dedup_fuzzy reference set must equal a fresh PPJoin
    # rebuild, and a corrupted checksum must force a rebuild (never
    # grade against a torn cache) that logs its reason
    import json
    import logging
    import os

    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        _fixture_fingerprint,
        _ref_pairs,
        q_dedup_ngram_jaccard,
        JACCARD_T,
    )

    fresh = {
        (r.doc_a, r.doc_b)
        for r in q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").collect()
    }
    # first call builds the cache, second loads it — both must match
    assert {(r.doc_a, r.doc_b) for r in _ref_pairs(spark, sf_dir).collect()} == fresh
    assert {(r.doc_a, r.doc_b) for r in _ref_pairs(spark, sf_dir).collect()} == fresh

    import tempfile

    meta = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_refpairs",
        f"jaccard-{JACCARD_T}-{_fixture_fingerprint(sf_dir)}",
        "checksum.json",
    )
    assert os.path.exists(meta)
    caplog.set_level(logging.WARNING, logger="data_ingestion_s3_to_parquet_spark.artifacts")
    with open(meta, "w") as fh:
        json.dump({"count": -1, "hashsum": 0}, fh)   # corrupt it
    assert {(r.doc_a, r.doc_b) for r in _ref_pairs(spark, sf_dir).collect()} == fresh
    assert "unreadable cache (KeyError" in caplog.text
    with open(meta) as fh:
        repaired = json.load(fh)
    assert repaired["count"] == len(fresh)            # rebuild re-stamped it
    caplog.clear()
    with open(meta, "w") as fh:
        json.dump({**repaired, "count": -1}, fh)     # well-formed, wrong signature
    assert {(r.doc_a, r.doc_b) for r in _ref_pairs(spark, sf_dir).collect()} == fresh
    assert "signature mismatch; rebuilding" in caplog.text


def test_quadratic_lane_guard_names_scale_safe_twin(spark, sf_dir, monkeypatch):
    # VERDICT r4 #5: the label-block-quadratic exact lanes must refuse
    # oversized inputs with an error that names their LSH twin, and
    # must keep working (guard passes) at fixture scale.
    import pytest

    from data_ingestion_s3_to_parquet_spark.operators.guards import (
        check_quadratic_rows,
    )

    for op, twin in (
        ("dedup_embedding", "dedup_components_lsh"),
        ("sim_join", "sim_join_lsh"),
        ("knn_graph", "knn_graph_lsh"),
        ("dedup_components", "dedup_components_lsh"),
        ("fuzzy_match_strings", "dedup_fuzzy"),
    ):
        with pytest.raises(ValueError) as exc:
            check_quadratic_rows(10**9, op, twin)
        msg = str(exc.value)
        assert twin in msg and op in msg and "quadratic" in msg

    # the env override raises the bound (explicit opt-in)
    monkeypatch.setenv("SPARK_GRAFT_QUADRATIC_BOUND", str(10**9 + 1))
    check_quadratic_rows(10**9, "sim_join", "sim_join_lsh")  # no raise

    # fixture-scale inputs pass the guard end-to-end
    monkeypatch.delenv("SPARK_GRAFT_QUADRATIC_BOUND", raising=False)
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        q_sim_join,
    )

    assert q_sim_join(spark, sf_dir).count() > 0


def test_knn_edge_artifact_matches_rebuild(spark, sf_dir):
    # the persisted k-NN edge table feeding pagerank/label_propagation
    # must equal a fresh knn_graph build, and a corrupted checksum must
    # force a rebuild (same contract as the dedup_fuzzy pair artifact)
    import json
    import os
    import tempfile

    from data_ingestion_s3_to_parquet_spark.artifacts import (
        fixture_fingerprint,
    )
    from data_ingestion_s3_to_parquet_spark.operators.graph import _knn_edges
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        KNN_K,
        q_knn_graph,
    )

    fresh = {
        (r.src, r.dst)
        for r in q_knn_graph(spark, sf_dir).select("src", "dst").collect()
    }
    assert {(r.src, r.dst) for r in _knn_edges(spark, sf_dir).collect()} == fresh
    assert {(r.src, r.dst) for r in _knn_edges(spark, sf_dir).collect()} == fresh

    meta = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_knn_edges",
        f"k{KNN_K}-{fixture_fingerprint(sf_dir, 'embeddings')}",
        "checksum.json",
    )
    assert os.path.exists(meta)
    with open(meta, "w") as fh:
        json.dump({"count": -1, "hashsum": 0}, fh)  # corrupt it
    assert {(r.src, r.dst) for r in _knn_edges(spark, sf_dir).collect()} == fresh
    with open(meta) as fh:
        repaired = json.load(fh)
    assert repaired["count"] == len(fresh)  # rebuild re-stamped it


def test_dedup_components_lsh_planted_clusters(spark, tmp_path):
    # the benched scale pipeline (LSH candidates → component dispatcher)
    # must recover planted near-dup clusters end-to-end: a 3-vector
    # chain (consecutive cosines ≈ 1) and a 2-vector pair, amid random
    # gaussian vectors whose pairwise cosines sit far below the 0.9
    # operating point.
    import random

    rng = random.Random(7)
    dim = 64
    rows = []
    for i in range(30):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)], 0))
    base = rows[2][1]
    rows.append((200, [x + 0.002 for x in base], 0))          # chain: 2~200
    rows.append((201, [x + 0.004 for x in base], 0))          # chain: 200~201
    rows.append((210, [x - 0.003 for x in rows[9][1]], 0))    # pair: 9~210
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        q_dedup_components_lsh,
    )

    comp = {
        r.vec_id: r.component
        for r in q_dedup_components_lsh(spark, str(tmp_path)).collect()
    }
    assert len(comp) == len(rows)                 # every vertex labeled
    assert comp[2] == comp[200] == comp[201] == 2  # chain recovered
    assert comp[9] == comp[210] == 9               # pair recovered
    # distinct planted clusters stay distinct, and a sample of the
    # random vectors keep their own id (no spurious merges)
    assert comp[2] != comp[9]
    for iso in (0, 1, 3, 4, 5):
        assert comp[iso] == iso


def test_dedup_semantic_planted_clusters(spark):
    # the clustering core of the SemDeDup composition must recover
    # planted semantic-duplicate clusters in whitened space: two
    # clusters of near-identical vectors amid gaussian background
    # whose pairwise cosines sit far below the 0.9 operating point
    import random

    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        semantic_clusters,
    )

    rng = random.Random(11)
    dim = 64
    rows = []
    for i in range(40):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    for j, src in ((300, 4), (301, 4), (302, 4), (310, 17), (311, 17)):
        rows.append((j, [x + rng.gauss(0, 0.002) for x in rows[src][1]]))
    df = spark.createDataFrame(rows, "vec_id long, white array<double>")

    comp = {r.vec_id: r.component for r in semantic_clusters(df).collect()}
    assert len(comp) == len(rows)                       # every vertex labeled
    assert comp[4] == comp[300] == comp[301] == comp[302] == 4
    assert comp[17] == comp[310] == comp[311] == 17
    assert comp[4] != comp[17]                          # clusters stay distinct
    for iso in (0, 1, 2, 3, 5, 6):                      # no spurious merges
        assert comp[iso] == iso


def test_dedup_semantic_selection_invariants(spark, sf_dir):
    # the full composed operator on the fixture corpus: exactly one
    # kept row per component, member counts partition the corpus, and
    # the kept score is the classifier maximum of its cluster
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        q_dedup_semantic,
    )
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_quality_classifier,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = q_dedup_semantic(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    comps = [r.component for r in rows]
    assert len(comps) == len(set(comps))                # one keeper per cluster
    assert sum(r.n_members for r in rows) == n_emb      # clusters partition
    scores = {
        r.doc_id: r.score for r in q_quality_classifier(spark, sf_dir).collect()
    }
    for r in rows:
        assert r.best_score == scores[r.doc_id]         # kept row carries its own score


def test_dedup_fuzzy_branch_jobs_keep_caller_job_group(spark, sf_dir):
    # dedup_fuzzy builds its two branches on driver threads; those
    # threads must inherit the caller's job group, or the lane's jobs
    # escape per-lane attribution and cancelJobGroup
    from data_ingestion_s3_to_parquet_spark.operators.dedup import q_dedup_fuzzy

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("dedup-fuzzy-group-test", "dedup_fuzzy")
    try:
        q_dedup_fuzzy(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert tracker.getJobIdsForGroup("dedup-fuzzy-group-test")
    # a difference, not equality: the status store may have evicted
    # old ungrouped jobs in the meantime
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped


def test_overlap_failure_cancels_sibling_branch(spark):
    # when one branch raises, the other branch's running job is
    # cancelled by its tag (not left to finish) and the first error is
    # the one re-raised
    import time

    from data_ingestion_s3_to_parquet_spark.operators.dedup import _overlap

    tracker = spark.sparkContext.statusTracker()

    def slow():
        return spark.range(1, numPartitions=1).rdd.map(
            lambda x: time.sleep(20) or x
        ).count()

    def fail_once_slow_runs():
        deadline = time.monotonic() + 30
        while not tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        raise ValueError("branch failed")

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="branch failed"):
        _overlap(spark, ("slow", slow), ("fail", fail_once_slow_runs))
    assert time.monotonic() - t0 < 15


def test_connected_components_star_chain_beyond_hashmin_cap(spark):
    # with pointer jumping, reach grows ~2^rounds — a 60-node chain
    # needs ~6 rounds, so (a) it converges within the default budget,
    # (b) an explicitly tiny budget must still refuse LOUDLY rather
    # than return partial labels, and (c) star must agree
    import pytest

    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    verts = spark.range(n).withColumnRenamed("id", "vec_id")

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, verts, max_iters=3)  # reach ~7 < 59

    comp = {
        r.vec_id: r.component
        for r in connected_components(edges, verts).collect()
    }
    assert len(comp) == n and set(comp.values()) == {0}

    star = {
        r.vec_id: r.component
        for r in connected_components_star(edges, verts).collect()
    }
    assert star == comp


def test_connected_components_converges_under_ansi_session(spark):
    # VERDICT r8: _label_signature used to SUM raw xxhash64 values —
    # silent int64 wraparound with ANSI off (tune() forces that), but
    # an ARITHMETIC_OVERFLOW throw mid-loop under a foreign ANSI-on
    # session. The bit_xor signature must converge either way; this
    # runs the whole CC loop with ANSI forced on.
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        n = 40
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "u long, v long"
        )
        verts = spark.range(n).withColumnRenamed("id", "vec_id")
        comp = {
            r.vec_id: r.component
            for r in connected_components(edges, verts).collect()
        }
        assert len(comp) == n and set(comp.values()) == {0}
        star = {
            r.vec_id: r.component
            for r in connected_components_star(edges, verts).collect()
        }
        assert star == comp
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_cc_local_residual_solve_matches_distributed(spark):
    # r15: a post-contraction residual at or below
    # LOCAL_SOLVE_MAX_EDGES is solved by a driver union-find
    # (_local_components) instead of further distributed levels. Pin
    # (a) the helper itself against hash-min on a mixed graph with
    # isolated reps, and (b) that the auto dispatcher with the local
    # tail produces exactly the distributed answer on a
    # multi-level-contracting graph.
    import pyspark.sql.functions as F

    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        LOCAL_SOLVE_MAX_EDGES,
        _local_components,
        connected_components,
        connected_components_auto,
    )

    assert LOCAL_SOLVE_MAX_EDGES >= 10_000  # byte-bounded, not SF-tuned

    # (a) two clusters + an isolated rep; min-root invariant
    edges = spark.createDataFrame(
        [(7, 3), (3, 9), (20, 22), (22, 21)], "u long, v long"
    )
    reps = spark.createDataFrame(
        [(3,), (7,), (9,), (20,), (21,), (22,), (40,)], "vec_id long"
    )
    got = {
        r.vec_id: r.component
        for r in _local_components(edges, reps).collect()
    }
    want = {
        r.vec_id: r.component
        for r in connected_components(edges, reps).collect()
    }
    assert got == want
    assert got[40] == 40 and got[7] == 3 and got[21] == 20

    # (b) dispatcher end-to-end: caterpillar clusters chained so the
    # first probe level cannot converge and a contraction happens
    pairs = []
    for c in range(12):
        base = c * 100
        pairs += [(base + i, base + i + 1) for i in range(8)]
        if c:
            pairs.append(((c - 1) * 100 + 8, base))
    e = spark.createDataFrame(pairs, "u long, v long")
    v = (
        e.select(F.col("u").alias("vec_id"))
        .union(e.select("v"))
        .distinct()
    )
    comp = {
        r.vec_id: r.component
        for r in connected_components_auto(e, v).collect()
    }
    assert set(comp.values()) == {0}  # one chained component, min id 0


def test_connected_components_auto_escalates_on_chain(spark):
    # the dispatcher must solve a deep chain (hash-min probe budget
    # exhausted -> star fallback) AND a shallow graph (hash-min wins)
    # through the same entry point
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        HASHMIN_PROBE_ROUNDS,
        connected_components_auto,
    )

    n = 60
    assert n - 1 > HASHMIN_PROBE_ROUNDS
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    verts = spark.range(n).withColumnRenamed("id", "vec_id")
    comp = {
        r.vec_id: r.component
        for r in connected_components_auto(chain, verts).collect()
    }
    assert len(comp) == n and set(comp.values()) == {0}

    shallow = spark.createDataFrame(
        [(5, 9), (9, 7), (20, 22)], "u long, v long"
    )
    verts = spark.range(30).withColumnRenamed("id", "vec_id")
    comp = {
        r.vec_id: r.component
        for r in connected_components_auto(shallow, verts).collect()
    }
    assert comp[5] == comp[9] == comp[7] == 5
    assert comp[20] == comp[22] == 20
    assert comp[0] == 0


def test_connected_components_auto_multilevel_contraction(spark):
    # caterpillar graphs: two disjoint "paths of hubs with leaves" whose
    # diameters exceed the probe budget — exercises ≥2 probe-and-
    # contract levels (the r4 recursion), where contracting by the
    # composed vertex map instead of the per-level node map would
    # mislabel (regression for the r4 composition bug)
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        HASHMIN_PROBE_ROUNDS,
        connected_components_auto,
    )

    edges = []
    def caterpillar(hub0, n_hubs, leaf0):
        for i in range(n_hubs - 1):
            edges.append((hub0 + i, hub0 + i + 1))       # spine
        for i in range(n_hubs):
            for j in range(3):                            # leaves
                edges.append((hub0 + i, leaf0 + 3 * i + j))

    caterpillar(0, 12, 1000)      # diameter 11+2 > 4 probe rounds
    caterpillar(500, 10, 2000)    # second component
    e = spark.createDataFrame(edges, "u long, v long")
    verts = (
        spark.createDataFrame(
            [(x,) for pair in edges for x in pair], "vec_id long"
        ).distinct()
    )
    assert 12 + 2 > HASHMIN_PROBE_ROUNDS
    comp = {
        r.vec_id: r.component
        for r in connected_components_auto(e, verts).collect()
    }
    c1 = {v for v, c in comp.items() if c == 0}
    c2 = {v for v, c in comp.items() if c == 500}
    assert len(c1) == 12 + 36 and len(c2) == 10 + 30
    assert c1 | c2 == set(comp)


def test_connected_components_star_matches_hashmin(spark):
    # multi-component random graph (shallow) + isolated vertices:
    # both lanes must produce identical labelings
    import random

    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(11)
    edges = []
    # three clusters with random internal edges, ids interleaved so
    # component minima aren't trivially contiguous
    clusters = [list(range(k, 90, 3)) for k in range(3)]
    for members in clusters:
        for _ in range(40):
            edges.append((rng.choice(members), rng.choice(members)))
    e = spark.createDataFrame(
        [p for p in edges if p[0] != p[1]], "u long, v long"
    )
    verts = spark.range(100).withColumnRenamed("id", "vec_id")  # 90..99 isolated

    hashmin = {
        r.vec_id: r.component for r in connected_components(e, verts).collect()
    }
    star = {
        r.vec_id: r.component
        for r in connected_components_star(e, verts).collect()
    }
    assert star == hashmin
    assert star[0] == 0 and star[1] == 1 and star[2] == 2
    for iso in range(90, 100):
        assert star[iso] == iso


def test_decontaminate_flags_planted_overlap(spark, tmp_path):
    # doc 10 (benchmark decile) shares a verbatim 5-gram with doc 3;
    # docs 1 and 2 are clean — only doc 3 may be flagged
    leak = "alpha bravo charlie delta echo"
    rows = [
        (1, "one two three four five six seven"),
        (2, "red green blue yellow purple orange"),
        (3, f"intro words {leak} trailing tail"),
        (10, f"benchmark prompt {leak} answer choices"),
        (20, "another benchmark question entirely different"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "syn", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import q_decontaminate

    out = {r.doc_id: (r.n_hits, r.contaminated)
           for r in q_decontaminate(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3}          # benchmark docs excluded
    assert out[3][1] is True and out[3][0] >= 1
    assert out[1] == (0, False) and out[2] == (0, False)


def test_registry_extra_lane_has_oracles():
    from data_ingestion_s3_to_parquet_spark.plans.registry import EXTRA, REGISTRY

    assert len(REGISTRY) == 50            # graded budget, exactly
    assert not (REGISTRY.keys() & EXTRA.keys())
    for q in EXTRA.values():
        assert q.oracle is not None


def test_sha2_keyed_dedup_matches_text_keyed_output(spark, sf_dir):
    # the sha2-fingerprint shuffle key is a pure plan optimization —
    # output must be row-identical to the naive groupBy(text)
    from data_ingestion_s3_to_parquet_spark.operators.dedup import q_dedup_exact
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    naive = (
        load_table(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
    )
    got = q_dedup_exact(spark, sf_dir)
    assert got.columns == ["text", "doc_id", "n_copies"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_bloom_prefilter_prunes_but_never_drops_matches(spark, sf_dir):
    # the bloom probe is a superset filter: every true match survives
    # (oracle proves output equality; this pins the pruning mechanics)
    from data_ingestion_s3_to_parquet_spark.operators.relational6 import (
        BLOOM_SEGMENT,
        q_join_bloom_prefilter,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    keys = c.where(F.col("c_mktsegment") == BLOOM_SEGMENT).select("c_custkey")
    exact = o.join(keys, o.o_custkey == keys.c_custkey, "left_semi").count()
    got = q_join_bloom_prefilter(spark, sf_dir)
    assert got.agg(F.sum("n_orders")).collect()[0][0] == exact


def test_cdc_apply_latest_wins_and_tombstones(spark, tmp_path):
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational6 import q_cdc_apply

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: upsert then newer upsert -> latest value wins
        (1, base, 1, "view", 1.0),
        (2, base + dt.timedelta(hours=1), 1, "purchase", 2.5),
        # user 2: latest event is a tombstone -> dropped from snapshot
        (3, base, 2, "view", 9.0),
        (4, base + dt.timedelta(hours=1), 2, "error", 0.0),
        # user 3: tombstone then a LATER upsert -> resurrected
        (5, base, 3, "error", 0.0),
        (6, base + dt.timedelta(hours=1), 3, "signup", 7.0),
        # user 4: ts tie broken by event_id (higher wins)
        (7, base, 4, "view", 1.0),
        (8, base, 4, "click", 2.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))

    snap = {r.user_id: r for r in q_cdc_apply(spark, str(tmp_path)).collect()}
    assert set(snap) == {1, 3, 4}          # user 2 deleted
    assert snap[1].last_type == "purchase" and snap[1].last_value == 2.5
    assert snap[3].last_type == "signup"   # later upsert beats tombstone
    assert snap[4].last_event_id == 8      # event_id tie-break


def test_sample_weighted_is_exact_topk_of_es_keys(spark, sf_dir):
    # independently recompute every E-S key in python and assert the
    # operator returns exactly the global top-k (with tie-break order)
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational6 import (
        _HEX_DENOM,
        WEIGHTED_K,
        q_sample_weighted,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    keyed = []
    for r in docs:
        v = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:6], 16)
        u = (v + 1) / _HEX_DENOM
        keyed.append((round(u ** (1.0 / max(r.n_chars, 1)), 10), -r.doc_id))
    keyed.sort(reverse=True)
    want = [-d for _, d in keyed[:WEIGHTED_K]]

    got = [r.doc_id for r in q_sample_weighted(spark, sf_dir).collect()]
    assert got == want


def test_resample_ffill_fills_gaps_with_carried_values(spark, tmp_path):
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational6 import (
        q_resample_ffill,
    )

    base = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        # clicks at hours 0 and 3 -> hours 1 and 2 are generated gaps
        (1, base, 1, "click", 10.0),
        (2, base + dt.timedelta(hours=3), 1, "click", 4.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))

    out = {r.bucket.hour: r for r in q_resample_ffill(spark, str(tmp_path)).collect()}
    assert sorted(out) == [0, 1, 2, 3]          # spine covers the gap hours
    assert out[1].n_events == 0 and out[2].n_events == 0
    assert out[1].sum_ffill == 10.0 and out[2].sum_ffill == 10.0  # carried
    assert out[3].sum_ffill == 4.0


def test_survey_2c_table_matches_registry():
    # SURVEY.md §2C's graded-inventory table is the grading contract; it
    # must list exactly the registry keys in registry order (VERDICT r2
    # flagged drift here — this pins it).
    import re
    from pathlib import Path

    from data_ingestion_s3_to_parquet_spark.plans.registry import REGISTRY

    text = Path(__file__).resolve().parent.parent.joinpath("SURVEY.md").read_text()
    rows = re.findall(r"^\| (\d+) \| `([a-z0-9_]+)` \|", text, flags=re.M)
    assert [int(n) for n, _ in rows] == list(range(1, 51))
    assert [k for _, k in rows] == list(REGISTRY)


def test_registry_matches_golden():
    # tests/golden/registry.json pins what the driver and the tools see:
    # the queries() order, each oracle's text, BENCH_ONLY and the bench
    # lanes. A lane rotation updates ORDER and this file together.
    import hashlib
    import json
    from pathlib import Path

    from data_ingestion_s3_to_parquet_spark.plans import registry

    golden = json.loads((Path(__file__).parent / "golden" / "registry.json").read_text())
    assert list(registry.queries()) == golden["queries"]
    assert {
        n: hashlib.sha256(s.encode()).hexdigest() for n, s in registry.oracle_sql().items()
    } == golden["oracle_sha256"]
    assert list(registry.BENCH_ONLY) == golden["bench_only"]
    assert sorted(n for n, q in registry.LANES.items() if q.bench) == golden["bench"]


def _fake_lane(name, oracle="SELECT 1"):
    from data_ingestion_s3_to_parquet_spark.plans.spec import Query

    return Query(name, lambda spark, sf_dir: None, oracle)


@pytest.mark.parametrize(
    "names, order, error",
    [
        ([("a", "SELECT 1"), ("a", "SELECT 2")], ("a",), "duplicate lane name"),
        ([("a", "SELECT 1"), ("b", "SELECT 2")], ("a",), "missing from ORDER"),
        ([("a", "SELECT 1")], ("a", "b"), "no lane"),
        ([("a", "SELECT 1"), ("b", None)], ("a", "b"), "no oracle"),
        ([("a", "SELECT 1")], ("a", "a"), "twice"),
    ],
)
def test_check_lanes_rejects(names, order, error):
    from data_ingestion_s3_to_parquet_spark.plans.registry import check_lanes

    with pytest.raises(ValueError, match=error):
        check_lanes([_fake_lane(n, o) for n, o in names], order)


def test_check_lanes_indexes_oracle_and_bench_only_lanes():
    from data_ingestion_s3_to_parquet_spark.plans.registry import check_lanes

    lanes = [_fake_lane("a"), _fake_lane("b", None), _fake_lane("c")]
    assert list(check_lanes(lanes, ("c", "a"))) == ["a", "b", "c"]


def test_bench_stdout_line_fits_driver_tail_window():
    # The driver captures only the last ~2000 chars of bench.py stdout
    # and parses the final line. Round 7 put the per-query spread dict
    # on that line, it outgrew the window, and the driver recorded
    # "parsed": null (VERDICT r7 defect #1) — no official bench number
    # for the round. bench.py now writes spread to BENCH_SPREAD.json
    # and prints only {metric, value, unit, queries, sf}; this test
    # reconstructs that line at worst-case numeric width for the
    # CURRENT bench lane and pins it well inside the window, so adding
    # headline queries can't silently re-break the contract.
    import json

    from data_ingestion_s3_to_parquet_spark.plans.registry import LANES

    names = [n for n, q in LANES.items() if q.bench] + ["etl_scan_project_write"]
    line = json.dumps(
        {
            "metric": "headline_suite_seconds",
            "value": 99999.999,
            "unit": "sec",
            "queries": {n: 9999.999 for n in names},
            "sf": 0.1,
        }
    )
    assert len(line) < 1800, (
        f"bench stdout line would be {len(line)} chars; driver tail "
        "window is ~2000 — trim the bench lane or shorten query names"
    )
    # and the spread must NOT be on the line (it lives in the sidecar)
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    assert "BENCH_SPREAD.json" in src


def test_bench_timing_order_is_canonical_and_warmup_pinned():
    # VERDICT r11 #5: suite position shifts lane timings by up to
    # ~1.5x, and registry rotations used to reorder the suite every
    # round. The timing order must be (a) lexicographic and (b)
    # independent of dict insertion order; the fixed warm-up set must
    # resolve against LANES so rotations can't break it.
    import bench
    from data_ingestion_s3_to_parquet_spark.plans.registry import LANES

    names = ["zeta", "alpha", "mid"]
    assert bench.canonical_order(names) == sorted(names)
    assert bench.canonical_order(reversed(names)) == sorted(names)
    for lane in bench.WARMUP_LANES:
        assert lane in LANES, f"warm-up lane {lane} left the registry"
    # the main loop must consume the canonical order, not dict order
    import inspect

    src = inspect.getsource(bench.main)
    assert "canonical_order(bench_queries)" in src
    assert "WARMUP_LANES" in src


def test_bench_lane_counts_repeat_exactly(spark, sf_dir):
    # the bench's plan-change signal: a lane's jobs/stages/tasks under
    # its job group are identical on every run, including dedup_fuzzy's
    # overlap-thread jobs, none of which may escape the group
    import bench
    from data_ingestion_s3_to_parquet_spark.plans.registry import LANES

    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    try:
        for name in ("join_inner", "dedup_fuzzy"):
            counts = []
            for i in range(2):
                group = f"bench-count-test-{name}-{i}"
                sc.setJobGroup(group, name)
                bench.materialize(LANES[name].fn(spark, sf_dir))
                counts.append(bench.lane_counts(sc, group))
            assert counts[0]["jobs"] > 0
            assert counts[0] == counts[1], (name, counts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    # a difference, not equality: the status store may have evicted
    # old ungrouped jobs in the meantime
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped


@pytest.mark.parametrize("n_rows", [0, 2, 20_000])
def test_local_frame_is_a_local_relation(spark, n_rows):
    # literal tables must plan as one LocalRelation partition (exact
    # size stats, no Python stage), keep their rows and nulls, and
    # carry the DDL schema
    from pyspark.sql.types import StructType

    from data_ingestion_s3_to_parquet_spark.sources.catalog import local_frame

    ddl = "method string, n long, floor double"
    rows = [(f"m{i}", i, i / 4) for i in range(n_rows)]
    if n_rows == 2:
        rows[1] = (None, 1, 0.5)
    df = local_frame(spark, rows, ddl)
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 1
    assert leaves.apply(0).getClass().getSimpleName() == "LocalRelation"
    assert df.rdd.getNumPartitions() == 1
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows


def test_literal_table_sites_start_no_python_rdd(spark, sf_dir, monkeypatch):
    # every operator that builds a driver-side table goes through
    # local_frame; the pickled-list path would parallelize a Python RDD
    from pyspark import SparkContext

    from data_ingestion_s3_to_parquet_spark.operators.dedup import _local_components
    from data_ingestion_s3_to_parquet_spark.plans.registry import LANES

    def no_parallelize(self, *args, **kwargs):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", no_parallelize)
    for name in ("dedup_fuzzy", "mmr_rerank", "schema_drift_report", "bpe_merges"):
        assert LANES[name].fn(spark, sf_dir).collect(), name
    edges = spark.sql("SELECT * FROM VALUES (1L, 2L), (2L, 3L) AS t(u, v)")
    reps = spark.range(1, 5).withColumnRenamed("id", "vec_id")
    labels = _local_components(edges, reps).collect()
    assert sorted(tuple(r) for r in labels) == [(1, 1), (2, 1), (3, 1), (4, 4)]


def test_quality_classifier_buckets_split_and_agree_with_signals(spark, sf_dir):
    # the composed gate must (a) populate all three buckets on the
    # fixture corpus (the "calibrated" requirement), (b) keep only
    # medium-or-better docs that ALSO pass the Gopher verdict, and
    # (c) reproduce its inputs bitwise from the signal operators
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_quality_classifier,
        q_quality_gopher,
    )

    rows = q_quality_classifier(spark, sf_dir).collect()
    assert {r.bucket for r in rows} == {"high", "medium", "low"}
    gopher = {r.doc_id: r.keep for r in q_quality_gopher(spark, sf_dir).collect()}
    assert len(rows) == len(gopher)
    for r in rows:
        assert 0.0 <= r.score <= 1.0
        if r.bucket == "low":
            assert not r.keep
        if r.keep:
            assert r.bucket in ("medium", "high") and gopher[r.doc_id]
        if not gopher[r.doc_id]:
            assert not r.keep


def test_quality_gopher_rules_split_and_agree_with_text_stats(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_quality_gopher,
        q_text_stats,
    )

    rows = q_quality_gopher(spark, sf_dir).collect()
    kept = {r.keep for r in rows}
    assert kept == {True, False}          # thresholds split the corpus
    for r in rows:
        assert 0.0 < r.top_word_ratio <= 1.0
        assert 0.0 <= r.dup_bigram_ratio < 1.0
    # n_words (sum of per-word counts) must equal text_stats' size(split)
    stats = {r.doc_id: r.n_words for r in q_text_stats(spark, sf_dir).collect()}
    for r in rows:
        assert r.n_words == stats[r.doc_id]


def test_seq_pack_budget_and_contiguity(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        PACK_BUDGET,
        PACK_SHARDS,
        q_seq_pack,
    )

    by_shard = defaultdict(list)
    for r in q_seq_pack(spark, sf_dir).collect():
        by_shard[r.shard].append(r)
    assert by_shard
    for shard, packs in by_shard.items():
        packs.sort(key=lambda r: r.pack_id)
        assert [p.pack_id for p in packs] == list(range(len(packs)))
        cum = 0
        for p in packs:
            cum += p.pack_tokens
            if p.pack_id < packs[-1].pack_id:
                # every non-final pack ends at or past its budget boundary
                assert cum >= (p.pack_id + 1) * PACK_BUDGET
            assert p.first_doc <= p.last_doc
            assert p.first_doc % PACK_SHARDS == shard


def test_tfidf_top_terms_ranking_properties(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        TFIDF_TOP_K,
        q_tfidf_top_terms,
    )

    by_doc = defaultdict(list)
    for r in q_tfidf_top_terms(spark, sf_dir).collect():
        by_doc[r.doc_id].append(r)
    assert by_doc
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= TFIDF_TOP_K
        # scores non-increasing in rank; every constituent count sane
        assert all(a.score >= b.score for a, b in zip(rows, rows[1:]))
        for r in rows:
            assert r.tf >= 1 and r.df >= 1 and r.score >= 0.0


def test_sample_stratified_caps_each_stratum_deterministically(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        STRAT_CAP,
        q_sample_stratified,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    sizes = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    picked = q_sample_stratified(spark, sf_dir).collect()
    by_lang = {}
    for r in picked:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert by_lang.keys() == sizes.keys()
    for lang, ids in by_lang.items():
        assert len(ids) == min(sizes[lang], STRAT_CAP)
    # hash ordering => same sample on a re-run regardless of layout
    again = {(r.lang, r.doc_id) for r in q_sample_stratified(spark, sf_dir).collect()}
    assert again == {(r.lang, r.doc_id) for r in picked}


def test_embedding_quantize_error_bound(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        q_embedding_quantize,
    )

    rows = q_embedding_quantize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.q_scale > 0
        # int8 rounding: reconstruction error can't exceed half a step
        assert r.max_abs_err <= r.q_scale / 2 + 1e-6


def test_media_frame_sample_stride_and_lengths(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        FRAME_CHARS,
        FRAME_STRIDE,
        q_media_frame_sample,
    )

    by_doc = defaultdict(list)
    for r in q_media_frame_sample(spark, sf_dir).collect():
        by_doc[r.doc_id].append(r)
    assert by_doc
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.frame_idx)
        n = rows[0].n_frames
        expect_idx = list(range(1, n + 1, FRAME_STRIDE))
        assert [r.frame_idx for r in rows] == expect_idx
        for r in rows:
            # every sampled frame is full-size except possibly the last
            assert r.frame_len == FRAME_CHARS or r.frame_idx == n
            assert len(r.frame_md5) == 32


def test_pii_redact_scrubs_all_planted_pii(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.textstats import q_pii_redact

    for r in q_pii_redact(spark, sf_dir).collect():
        assert r.n_emails == 1
        assert r.n_phones == (1 if r.doc_id % 3 == 0 else 0)
        assert "<EMAIL>" in r.redacted
        assert "example.com" not in r.redacted
        assert ("<PHONE>" in r.redacted) == (r.doc_id % 3 == 0)


def test_scd2_history_ranges_chain_per_user(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational5 import (
        q_scd2_history,
    )

    by_user = defaultdict(list)
    for r in q_scd2_history(spark, sf_dir).collect():
        by_user[r.user_id].append(r)
    assert by_user
    for user, rows in by_user.items():
        rows.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in rows) == 1
        assert rows[-1].is_current and rows[-1].valid_to is None
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from      # ranges chain, no gaps
            assert not a.is_current


def test_unpivot_stack_melts_measures_exactly(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        UNPIVOT_MEASURES,
        q_unpivot_stack,
    )

    rows = q_unpivot_stack(spark, sf_dir).collect()
    wide = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where("l_linenumber = 1")
        .collect()
    )
    assert len(rows) == 4 * len(wide)
    # (l_orderkey, l_linenumber) is not unique in the synthetic fixture,
    # so compare the full multiset per measure.
    from collections import Counter

    got = Counter((r.l_orderkey, r.measure, r.value) for r in rows)
    want = Counter(
        (w.l_orderkey, m, getattr(w, m)) for w in wide for m in UNPIVOT_MEASURES
    )
    assert got == want


def test_window_range_interval_matches_hand_rolled_frame(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_window_range_interval,
    )

    rows = q_window_range_interval(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, rs in by_user.items():
        rs.sort(key=lambda r: (r.epoch_s, r.event_id))
        for r in rs:
            frame = [x for x in rs if r.epoch_s - 3600 <= x.epoch_s <= r.epoch_s]
            assert r.n_1h == len(frame), (user, r.event_id)
            assert abs(r.sum_1h - sum(x.value for x in frame)) < 1e-6


def test_sample_span_mask_round_trips_to_original(spark, sf_dir):
    import re

    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_sample_span_mask,
    )

    out = {r.doc_id: r for r in q_sample_span_mask(spark, sf_dir).collect()}
    again = {r.doc_id: r for r in q_sample_span_mask(spark, sf_dir).collect()}
    assert {d: r.input_text for d, r in out.items()} == {
        d: r.input_text for d, r in again.items()
    }  # deterministic, layout-independent

    originals = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert out.keys() == originals.keys()
    sent = re.compile(r"^<extra_id_(\d+)>$")
    masked_frac = []
    for doc_id, r in out.items():
        assert 0 <= r.n_masked <= r.n_tokens
        assert (r.n_spans or 0) <= r.n_masked
        masked_frac.append(r.n_masked / r.n_tokens)
        # parse target into span_id -> tokens
        spans: dict[int, list[str]] = {}
        cur = None
        for tok in r.target_text.split(" ") if r.target_text else []:
            m = sent.match(tok)
            if m:
                cur = int(m.group(1))
                spans[cur] = []
            else:
                assert cur is not None
                spans[cur].append(tok)
        # splice spans back into the input at their sentinels
        rebuilt = []
        for tok in r.input_text.split(" ") if r.input_text else []:
            m = sent.match(tok)
            if m:
                rebuilt.extend(spans[int(m.group(1))])
            else:
                rebuilt.append(tok)
        assert " ".join(rebuilt) == originals[doc_id], doc_id
    # corpus-level corruption rate is near the 40/256 design point
    avg = sum(masked_frac) / len(masked_frac)
    assert 0.10 < avg < 0.22, avg


def test_anomaly_zscore_agrees_with_numpy(spark, sf_dir):
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_anomaly_zscore,
    )

    rows = q_anomaly_zscore(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        vals = [r.value for r in rs]
        mean = sum(vals) / len(vals)
        std = math.sqrt(sum((v - mean) ** 2 for v in vals) / len(vals))
        for r in rs:
            assert abs(r.z - (r.value - mean) / std) < 1e-4, (t, r.event_id)
            assert r.is_anomaly == (abs(r.z) > 3.0)


def test_knn_graph_is_exact_topk_per_vector(spark, sf_dir):
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        KNN_K,
        q_knn_graph,
    )

    rows = q_knn_graph(spark, sf_dir).collect()
    emb = {
        r.vec_id: (r.label, r.embedding)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    by_src: dict[int, list] = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    assert len(by_src) == len(emb)
    for src, edges in by_src.items():
        label, ev = emb[src]
        block = [v for v in emb if v != src and emb[v][0] == label]
        want = sorted(block, key=lambda v: (-cos(ev, emb[v][1]), v))[:KNN_K]
        edges.sort(key=lambda r: r.rank)
        assert [r.dst for r in edges] == want, src
        # ranks are 1..k and similarity is non-increasing
        assert [r.rank for r in edges] == list(range(1, len(edges) + 1))
        sims = [r.cos_sim for r in edges]
        assert all(a >= b - 1e-12 for a, b in zip(sims, sims[1:]))


def test_lm_unigram_score_separates_common_from_rare_text(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_lm_unigram_score,
    )

    rows = q_lm_unigram_score(spark, sf_dir).collect()
    assert len(rows) == 500
    stats = {
        r.doc_id: r.n_words
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("doc_id", "size(split(text, ' ')) AS n_words")
        .collect()
    }
    for r in rows:
        assert r.n_words == stats[r.doc_id]
        assert 0 <= r.n_oov <= r.n_words
        assert r.avg_nll > 0
    # a doc made ENTIRELY of OOV tokens must score higher than one of
    # top-vocab tokens; proxy: avg_nll correlates positively with oov
    # fraction across the corpus
    import statistics

    xs = [r.n_oov / r.n_words for r in rows]
    ys = [r.avg_nll for r in rows]
    if len(set(xs)) > 1:
        corr = statistics.correlation(xs, ys)
        assert corr > 0.2, corr


def test_cogrouped_asof_twin_matches_join_lane(spark, sf_dir):
    # the cogroup+merge_asof path must reproduce the graded join_asof
    # (equi-join + inequality + rank-1 window) exactly — same inner
    # semantics and the same (latest date, highest orderkey) tie-break
    from data_ingestion_s3_to_parquet_spark.operators.cogrouped import (
        asof_join_cogrouped,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational import (
        q_join_asof,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    twin = {
        (r.event_id, r.user_id, r.asof_orderkey, r.asof_orderdate)
        for r in asof_join_cogrouped(events, orders).collect()
    }
    graded = {
        (r.event_id, r.user_id, r.asof_orderkey, r.asof_orderdate)
        for r in q_join_asof(spark, sf_dir).collect()
    }
    assert twin == graded
    assert twin  # non-vacuous


def test_pagerank_matches_hand_iteration(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        PAGERANK_DAMPING_NUM,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
        _r,
        q_pagerank,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_knn_graph,
    )

    got = {r.node: r.pr for r in q_pagerank(spark, sf_dir).collect()}
    edges = [(r.src, r.dst) for r in q_knn_graph(spark, sf_dir).collect()]
    nodes = {
        r.vec_id
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    assert got.keys() == nodes

    n = len(nodes)
    dn = PAGERANK_DAMPING_NUM
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    teleport = _r((100 - dn) * PAGERANK_SCALE, 100 * n)
    prs = {v: _r(PAGERANK_SCALE, n) for v in nodes}
    for _ in range(PAGERANK_ITERS):
        mass = defaultdict(int)
        for s, t in edges:
            mass[t] += _r(prs[s], outdeg[s])
        prs = {v: teleport + (2 * dn * mass[v] + 100) // 200 for v in nodes}
    # the integer loop is EXACT: outputs must match bitwise
    for v in nodes:
        assert got[v] == prs[v] / PAGERANK_SCALE, v
    # rank mass is conserved up to dangling leakage: sum in (0.9, 1.001]
    total = sum(got.values())
    assert 0.9 < total <= 1.001, total


def test_profile_table_matches_direct_queries(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_profile_table,
    )

    prof = {r.column: r for r in q_profile_table(spark, sf_dir).collect()}
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = e.count()
    for c in ("event_id", "user_id", "value", "event_type", "props", "ts"):
        assert prof[c].n_nulls == n - e.where(F.col(c).isNotNull()).count()
        assert prof[c].n_distinct == e.select(c).na.drop().distinct().count()
    assert prof["value"].min_value == e.agg(F.min("value")).first()[0]
    assert prof["value"].max_value == e.agg(F.max("value")).first()[0]
    assert prof["event_type"].min_value is None  # strings: typed skip


def test_label_propagation_respects_components_and_is_deterministic(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        q_label_propagation,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_knn_graph,
    )

    got = {r.node: r.community for r in q_label_propagation(spark, sf_dir).collect()}
    again = {r.node: r.community for r in q_label_propagation(spark, sf_dir).collect()}
    assert got == again  # synchronous fixed rounds -> deterministic

    # labels only travel along edges, so every community id must lie in
    # the same connected component (union-find over symmetrized edges)
    edges = [(r.src, r.dst) for r in q_knn_graph(spark, sf_dir).collect()]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent[find(a)] = find(b)

    for s, t in edges:
        union(s, t)
    for node, community in got.items():
        if node in parent or community in parent:
            assert find(node) == find(community), (node, community)
        else:
            assert node == community  # isolated: keeps own label
    # LPA coarsens: strictly fewer communities than nodes on this graph
    assert len(set(got.values())) < len(got)


def test_time_weighted_avg_matches_hand_integration(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_time_weighted_avg,
    )

    got = {r.user_id: r for r in q_time_weighted_avg(spark, sf_dir).collect()}
    events = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user: dict[int, list] = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append(
            (int(r.ts.timestamp()), r.event_id, r.value)
        )
    for user, obs in by_user.items():
        obs.sort()
        if len(obs) < 2:
            assert user not in got
            continue
        total = wsum = 0
        for (s0, _, v0), (s1, _, _) in zip(obs, obs[1:]):
            dur = s1 - s0
            total += dur
            wsum += round(v0 * dur, 6)
        r = got[user]
        assert r.n_segments == len(obs) - 1
        assert r.span_sec == total
        assert abs(r.twa_value - wsum / total) < 1e-5, user


def test_funnel_conversion_counts_are_ordered_and_exact(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_funnel_conversion,
    )

    got = {r.step: r.n_users for r in q_funnel_conversion(spark, sf_dir).collect()}
    assert set(got) == {"1_signup", "2_view", "3_purchase"}
    assert got["1_signup"] >= got["2_view"] >= got["3_purchase"]  # funnel shape

    events = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user: dict[int, list] = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_type))
    n1 = n2 = n3 = 0
    for obs in by_user.values():
        t1 = min((t for t, e in obs if e == "signup"), default=None)
        if t1 is None:
            continue
        n1 += 1
        t2 = min((t for t, e in obs if e == "view" and t >= t1), default=None)
        if t2 is None:
            continue
        n2 += 1
        if any(t >= t2 for t, e in obs if e == "purchase"):
            n3 += 1
    assert (got["1_signup"], got["2_view"], got["3_purchase"]) == (n1, n2, n3)


def test_retention_cohort_offset_zero_covers_every_user(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_retention_cohort,
    )

    rows = q_retention_cohort(spark, sf_dir).collect()
    assert all(r.week_offset >= 0 for r in rows)
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    # offset 0: every user is active in their own cohort week
    assert sum(r.n_users for r in rows if r.week_offset == 0) == n_users
    # retention never exceeds the cohort's size
    size = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    for r in rows:
        assert r.n_users <= size[r.cohort_week], r


def test_knn_graph_lsh_ranks_planted_neighbor_first(spark, tmp_path):
    # a near-identical copy of vector 0 must be vector 0's rank-1
    # neighbor in the LSH-candidate graph (both directions)
    import math
    import random

    rng = random.Random(7)
    dim = 64
    rows = []
    for i in range(150):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v], i % 4))
    base = rows[0][1]
    rows.append((700, [x + rng.gauss(0, 0.001) for x in base], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        q_knn_graph_lsh,
    )

    edges = q_knn_graph_lsh(spark, str(tmp_path)).collect()
    top = {r.src: r.dst for r in edges if r.rank == 1}
    assert top.get(0) == 700
    assert top.get(700) == 0
    # per-source ranks are 1..k without gaps
    by_src = {}
    for r in edges:
        by_src.setdefault(r.src, []).append(r.rank)
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src


def test_recursive_cte_depths_match_bit_length(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_recursive_hierarchy,
    )

    rows = q_recursive_hierarchy(spark, sf_dir).collect()
    keys = {
        r.s_suppkey
        for r in spark.read.parquet(f"{sf_dir}/supplier.parquet").collect()
    }
    assert {r.s_suppkey for r in rows} == keys
    for r in rows:
        # walking k -> floor(k/2) -> ... -> root takes bit_length(k)-1
        # steps (key 0 is its own root: the recursion never fires)
        assert r.depth_to_root == max(r.s_suppkey.bit_length() - 1, 0), r
        assert r.chain_len == r.depth_to_root + 1
        # path sum: k + k//2 + ... + 1 (or just 0 for key 0)
        k, total = r.s_suppkey, 0
        while True:
            total += k
            if k <= 1:
                break
            k //= 2
        assert r.path_key_sum == total, r


def test_pagerank_loop_accepts_lsh_candidate_edges(spark, tmp_path):
    # the 100 TB wiring: LSH candidate edges feed the SAME fixed-point
    # loop the graded query runs on exact edges; the planted near-dup
    # pair must out-rank the noise vectors (each pulls teleport mass
    # from the other every round)
    import math
    import random

    rng = random.Random(13)
    dim = 64
    rows = []
    for i in range(120):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v], i % 4))
    base = rows[0][1]
    rows.append((500, [x + rng.gauss(0, 0.001) for x in base], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    import pyspark.sql.functions as SF

    from data_ingestion_s3_to_parquet_spark.operators.graph import pagerank_edges
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        q_knn_graph_lsh,
    )

    edges = q_knn_graph_lsh(spark, str(tmp_path)).select("src", "dst")
    nodes = spark.read.parquet(str(tmp_path / "embeddings.parquet")).select(
        SF.col("vec_id").alias("node")
    )
    pr = {r.node: r.pr for r in pagerank_edges(edges, nodes).collect()}
    assert len(pr) == 121
    floor = min(pr.values())  # isolated nodes sit at pure teleport mass
    assert pr[0] > floor and pr[500] > floor  # the planted pair gained rank


def test_data_expectations_gate_shape_and_failing_rule(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_data_expectations,
    )

    rows = {r.rule: r for r in q_data_expectations(spark, sf_dir).collect()}
    assert len(rows) == 6
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    for r in rows.values():
        assert r.n_checked == n
        assert r.passed == (r.n_violations == 0)
    # the corpus contains 'error' events: the allowed-set rule must
    # FAIL with exactly that count, everything else must pass
    n_err = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("event_type = 'error'")
        .count()
    )
    assert not rows["event_type_allowed"].passed
    assert rows["event_type_allowed"].n_violations == n_err
    for rule, r in rows.items():
        if rule != "event_type_allowed":
            assert r.passed, rule


def test_fuzzy_match_strings_agrees_with_python_levenshtein(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        FUZZY_MAX_EDITS,
        FUZZY_PREFIX_LEN,
        q_fuzzy_match_strings,
    )

    got = {
        (r.doc_a, r.doc_b): r.edits
        for r in q_fuzzy_match_strings(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    by_lang: dict[str, list] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append(
            (r.doc_id, r.text.lower()[:FUZZY_PREFIX_LEN])
        )
    want = {}
    for rows in by_lang.values():
        for i, (ida, pa) in enumerate(rows):
            for idb, pb in rows[i + 1 :]:
                lo, hi = min(ida, idb), max(ida, idb)
                d = lev(pa, pb)
                if d <= FUZZY_MAX_EDITS:
                    want[(lo, hi)] = d
    assert got == want
    assert got  # non-vacuous on the fixture


def test_chunk_text_covers_every_token_with_exact_overlap(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        CHUNK_OVERLAP,
        CHUNK_TOKENS,
        q_chunk_text,
    )

    step = CHUNK_TOKENS - CHUNK_OVERLAP
    chunks: dict[int, list] = {}
    for r in q_chunk_text(spark, sf_dir).collect():
        chunks.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert chunks.keys() == docs.keys()
    for doc_id, toks in docs.items():
        rs = sorted(chunks[doc_id], key=lambda r: r.chunk_id)
        # chunk starts advance by step from 1, ids are 1..k
        assert [r.chunk_id for r in rs] == list(range(1, len(rs) + 1))
        assert [r.start_pos for r in rs] == [1 + step * i for i in range(len(rs))]
        covered = set()
        for r in rs:
            want = toks[r.start_pos - 1 : r.start_pos - 1 + CHUNK_TOKENS]
            assert r.chunk_text == " ".join(want), (doc_id, r.chunk_id)
            assert r.n_chunk_tokens == len(want)
            covered.update(range(r.start_pos - 1, r.start_pos - 1 + len(want)))
        assert covered == set(range(len(toks))), doc_id  # full coverage


def test_corpus_report_composes_its_building_blocks(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_corpus_report,
    )
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_quality_gopher,
    )

    r = q_corpus_report(spark, sf_dir).collect()[0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    assert r.n_docs == len(docs)
    assert r.n_langs == len({d.lang for d in docs})
    assert r.total_tokens == sum(len(d.text.split(" ")) for d in docs)
    import re

    fps = {re.sub(r"\s+", " ", d.text.lower()).strip() for d in docs}
    assert r.n_exact_dups == len(docs) - len(fps)
    keep = sum(1 for g in q_quality_gopher(spark, sf_dir).collect() if g.keep)
    assert abs(r.keep_rate - keep / len(docs)) < 1e-6
    assert 0 <= r.dup_rate <= 1 and 0 <= r.keep_rate <= 1


def test_value_histogram_is_dense_and_conserves_mass(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        HIST_BINS,
        q_value_histogram,
    )

    rows = sorted(q_value_histogram(spark, sf_dir).collect(), key=lambda r: r.bin)
    assert [r.bin for r in rows] == list(range(HIST_BINS))  # dense
    vals = [
        r.value
        for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    ]
    assert sum(r.n for r in rows) == len(vals)  # mass conserved
    vmin, vmax = min(vals), max(vals)
    width = (vmax - vmin) / HIST_BINS
    import math

    for r in rows:
        want = sum(
            1
            for v in vals
            if min(math.floor((v - vmin) / width), HIST_BINS - 1) == r.bin
        )
        assert r.n == want, r.bin
        assert abs(r.hi - r.lo - width) < 1e-5
    # boundary rows: global max lands in the LAST bin (clamped)
    assert rows[-1].n >= 1


def test_skyline_frontier_is_exactly_the_pareto_set(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_skyline_frontier,
    )

    got = {
        r.o_orderkey for r in q_skyline_frontier(spark, sf_dir).collect()
    }
    orders = [
        (r.o_orderkey, r.o_orderdate.date(), r.o_totalprice)
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    ]
    # brute-force strict Pareto with the keep-lowest-key tie convention
    want = set()
    for k, d, p in orders:
        dominated = any(
            (d2 <= d and p2 >= p and (d2 < d or p2 > p))
            or (d2 == d and p2 == p and k2 < k)
            for k2, d2, p2 in orders
            if k2 != k
        )
        if not dominated:
            want.add(k)
    assert got == want
    assert got  # non-vacuous


def test_basket_pairs_match_hand_counted_cooccurrence(spark, sf_dir):
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        BASKET_MIN_SUPPORT,
        q_basket_pairs,
    )

    got = {
        (r.pa, r.pb): (r.n_ab, r.lift)
        for r in q_basket_pairs(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    pair_n = Counter()
    part_n = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for p in ps:
            part_n[p] += 1
        for i, pa in enumerate(ps):
            for pb in ps[i + 1 :]:
                pair_n[(pa, pb)] += 1
    n_orders = len(baskets)
    want = {
        pair: (n, round(n * n_orders / (part_n[pair[0]] * part_n[pair[1]]), 6))
        for pair, n in pair_n.items()
        if n >= BASKET_MIN_SUPPORT
    }
    assert got.keys() == want.keys()
    for pair in want:
        assert got[pair][0] == want[pair][0]
        assert abs(got[pair][1] - want[pair][1]) < 1e-9, pair
    # lift sanity: repeated pairs in a sparse basket matrix are
    # positively associated
    assert all(lift > 1 for _, lift in got.values())


def test_period_growth_matches_fraction_arithmetic(spark, sf_dir):
    from fractions import Fraction

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_period_growth,
    )

    rows = sorted(
        q_period_growth(spark, sf_dir).collect(), key=lambda r: r.month
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    from collections import defaultdict

    cents = defaultdict(int)
    for o in orders:
        m = o.o_orderdate.replace(
            day=1, hour=0, minute=0, second=0, microsecond=0
        )
        cents[m] += round(
            Fraction(o.o_totalprice).limit_denominator(10**10) * 100
        )
    months = sorted(cents)
    assert [r.month for r in rows] == months
    for i, r in enumerate(rows):
        assert r.revenue == cents[months[i]] / 100.0
        if i == 0:
            assert r.mom_growth is None
        else:
            cur, prev = cents[months[i]], cents[months[i - 1]]
            units = Fraction((cur - prev) * 10**6, prev)
            n, d = units.numerator, units.denominator
            sign = -1 if n < 0 else 1
            want = sign * ((2 * abs(n) + d) // (2 * d)) / 1e6
            assert r.mom_growth == want, r.month
    # growth must take both signs across 80 months of noisy revenue
    signs = {r.mom_growth > 0 for r in rows if r.mom_growth is not None}
    assert signs == {True, False}


def test_ab_test_metrics_replay_with_fractions(spark, sf_dir):
    from fractions import Fraction
    from hashlib import md5

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_ab_test_metrics,
    )

    r = q_ab_test_metrics(spark, sf_dir).collect()[0]
    events = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    sums = {"A": 0, "B": 0}
    ns = {"A": 0, "B": 0}
    for e in events:
        arm = (
            "A"
            if md5(str(e.user_id).encode()).hexdigest()[:4] < AB_SPLIT_BOUND
            else "B"
        )
        ns[arm] += 1
        sums[arm] += round(Fraction(e.value).limit_denominator(10**10) * 100)
    assert (r.n_a, r.n_b) == (ns["A"], ns["B"])
    # the gate assigns PER USER; with the smoke fixture's ~15 users the
    # event split is lumpy — just require both arms to be populated
    assert r.n_a > 0 and r.n_b > 0

    def units(s, n):
        return (2 * s * 10_000 + n) // (2 * n)

    ua, ub = units(sums["A"], ns["A"]), units(sums["B"], ns["B"])
    assert r.mean_a == ua / 1e6 and r.mean_b == ub / 1e6
    d = ub - ua
    sign = -1 if d < 0 else 1
    assert r.rel_effect == sign * ((2 * abs(d) * 10**6 + ua) // (2 * ua)) / 1e6


def test_oracle_replica_rejects_hugeint_columns(sf_dir):
    # VERDICT r5 #1/#2: DuckDB types integer SUM as HUGEINT (int128);
    # the driver canonicalizes through pandas, which has no int128, so
    # HUGEINT coerces to float64 and the value hash mismatches Spark's
    # int64 even when every value agrees. The old replica fetched rows
    # via fetchall() (native ints, lossless) and was blind to this —
    # it passed the exact two queries the round-5 driver failed. The
    # replica must now reject HUGEINT result columns outright.
    import sys as _sys

    _sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from tools.oracle_check import run_duckdb

    with pytest.raises(TypeError, match="HUGEINT"):
        run_duckdb("SELECT SUM(r_regionkey) AS s FROM region", sf_dir)
    # the repo-convention fix passes, and the cells stay integral
    cols, rows = run_duckdb(
        "SELECT CAST(SUM(r_regionkey) AS BIGINT) AS s FROM region", sf_dir
    )
    assert cols == ["s"]
    assert all(float(r[0]).is_integer() for r in rows)


def test_no_registry_oracle_emits_hugeint(sf_dir):
    # Repo-wide gate (VERDICT r5 #1 "Done =" criterion): every oracle
    # in every lane must type its result columns pandas-safely. LIMIT 0
    # wrapping keeps the sweep cheap — DuckDB still resolves the full
    # output schema without materializing results.
    import sys as _sys

    _sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    import duckdb

    from data_ingestion_s3_to_parquet_spark.plans.registry import LANES
    from data_ingestion_s3_to_parquet_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    offenders = {}
    for name, q in LANES.items():
        if q.oracle is None:
            continue
        # relation API: resolves the full output schema with REAL
        # DuckDB types (DB-API description collapses every numeric to
        # 'NUMBER' and cannot see HUGEINT) without materializing rows
        rel = con.sql(f"SELECT * FROM ({q.oracle}) LIMIT 0")
        huge = [
            c
            for c, t in zip(rel.columns, rel.types)
            if str(t).upper() in ("HUGEINT", "UHUGEINT", "INT128", "UINT128")
        ]
        if huge:
            offenders[name] = huge
    con.close()
    assert not offenders, f"HUGEINT oracle output columns: {offenders}"


def test_cosine_edge_artifact_matches_rebuild(spark, sf_dir):
    # the persisted exact-cosine edge table feeding dedup_components
    # must equal a fresh in-query pair build, and a corrupted checksum
    # must force a rebuild (same contract as the knn-edge artifact)
    import json
    import os
    import tempfile

    from data_ingestion_s3_to_parquet_spark.artifacts import (
        fixture_fingerprint,
    )
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        EMB_DEDUP_THRESHOLD,
        _cosine_edges,
        cosine,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("u"), F.col("embedding").alias("ea"), "label")
    b = emb.select(F.col("vec_id").alias("v"), F.col("embedding").alias("eb"), "label")
    fresh = {
        (r.u, r.v)
        for r in a.join(b, "label")
        .where(F.col("u") < F.col("v"))
        .where(cosine(F.col("ea"), F.col("eb")) >= EMB_DEDUP_THRESHOLD)
        .select("u", "v")
        .collect()
    }
    assert {(r.u, r.v) for r in _cosine_edges(spark, sf_dir).collect()} == fresh
    # warm read (cache hit) must agree too
    assert {(r.u, r.v) for r in _cosine_edges(spark, sf_dir).collect()} == fresh

    meta = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_cosedges",
        f"t{EMB_DEDUP_THRESHOLD}-{fixture_fingerprint(sf_dir, 'embeddings')}",
        "checksum.json",
    )
    assert os.path.exists(meta)
    with open(meta, "w") as fh:
        json.dump({"count": -1, "hashsum": 0}, fh)  # corrupt it
    assert {(r.u, r.v) for r in _cosine_edges(spark, sf_dir).collect()} == fresh
    with open(meta) as fh:
        repaired = json.load(fh)
    assert repaired["count"] == len(fresh)  # rebuild re-stamped it


def test_quality_signals_artifact_matches_rebuild(spark, sf_dir):
    # the persisted signal frame feeding quality_classifier must equal
    # a fresh three-pipeline build, and a corrupted checksum must force
    # a rebuild (same contract as the knn-edge / cosine-edge artifacts)
    import json
    import os
    import tempfile

    from data_ingestion_s3_to_parquet_spark.artifacts import (
        fixture_fingerprint,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_lm_unigram_score,
    )
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        _quality_signals,
        q_quality_gopher,
        q_text_stats,
    )

    ts = q_text_stats(spark, sf_dir).select("doc_id", "quality_score")
    qg = q_quality_gopher(spark, sf_dir).select(
        "doc_id", "top_word_ratio", "dup_bigram_ratio",
        F.col("keep").alias("gopher_keep"),
    )
    lm = q_lm_unigram_score(spark, sf_dir).select("doc_id", "avg_nll")
    fresh = {tuple(r) for r in ts.join(qg, "doc_id").join(lm, "doc_id").collect()}

    cols = ["doc_id", "quality_score", "top_word_ratio",
            "dup_bigram_ratio", "gopher_keep", "avg_nll"]
    got = {tuple(r) for r in _quality_signals(spark, sf_dir).select(*cols).collect()}
    fresh = {
        tuple(r)
        for r in ts.join(qg, "doc_id").join(lm, "doc_id").select(*cols).collect()
    }
    assert got == fresh
    # warm read (cache hit) must agree too
    assert {
        tuple(r) for r in _quality_signals(spark, sf_dir).select(*cols).collect()
    } == fresh

    meta = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_qsignals",
        f"v1-{fixture_fingerprint(sf_dir, 'documents')}",
        "checksum.json",
    )
    assert os.path.exists(meta)
    with open(meta, "w") as fh:
        json.dump({"count": -1, "hashsum": 0}, fh)  # corrupt it
    assert {
        tuple(r) for r in _quality_signals(spark, sf_dir).select(*cols).collect()
    } == fresh
    with open(meta) as fh:
        assert json.load(fh)["count"] == len(fresh)  # rebuild re-stamped it


def test_interleave_mix_distributed_matches_graded(spark, sf_dir):
    # the production materialization (range shuffle + per-partition
    # offsets, no single-partition sort) must reproduce the graded
    # single-partition ranking bitwise — VERDICT r5 plan-audit item
    from data_ingestion_s3_to_parquet_spark.operators.relational7 import (
        interleave_mix_distributed,
        q_interleave_mix,
    )

    graded = {tuple(r) for r in q_interleave_mix(spark, sf_dir).collect()}
    for n in (3, 8):  # partition count must not affect the schedule
        got = {
            tuple(r)
            for r in interleave_mix_distributed(spark, sf_dir, n).collect()
        }
        assert got == graded


def test_fixture_rows_reads_footers_exactly(spark, sf_dir):
    # the metadata-cheap guard input (VERDICT r5 #5) must agree with a
    # real count, memoize, and feed the same refusal path as before
    from data_ingestion_s3_to_parquet_spark.operators import guards
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    for t in ("embeddings", "documents"):
        assert guards.fixture_rows(sf_dir, t) == load_table(spark, sf_dir, t).count()
        assert (sf_dir, t) in guards._FIXTURE_ROWS  # memoized

    # the guarded entry point refuses via the same error contract
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dedup_components_lsh"):
        guards.check_quadratic_rows(10**9, "dedup_components", "dedup_components_lsh")


def test_dedup_passages_matches_pure_python_recompute(spark, sf_dir):
    # independent (non-SQL) ground truth: recompute repeated-passage
    # coverage in pure Python over the same fixture and compare every
    # row — pins the n-gram window arithmetic, the distinct-doc
    # threshold, and the text rebuild
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        SCRUB_MIN_DOCS,
        SCRUB_NGRAM_N,
        q_dedup_passages,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    gram_docs = defaultdict(set)
    for did, tk in docs.items():
        for i in range(len(tk) - SCRUB_NGRAM_N + 1):
            gram_docs[" ".join(tk[i : i + SCRUB_NGRAM_N])].add(did)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= SCRUB_MIN_DOCS}
    expected = {}
    for did, tk in docs.items():
        covered = set()
        for i in range(len(tk) - SCRUB_NGRAM_N + 1):
            if " ".join(tk[i : i + SCRUB_NGRAM_N]) in hot:
                covered.update(range(i, i + SCRUB_NGRAM_N))
        kept = [w for p, w in enumerate(tk) if p not in covered]
        expected[did] = (len(tk), len(tk) - len(kept), " ".join(kept))

    got = {
        r.doc_id: (r.n_tokens, r.n_scrubbed, r.scrubbed_text)
        for r in q_dedup_passages(spark, sf_dir).collect()
    }
    assert got == expected
    # the fixture corpus must actually exercise the scrub (non-vacuous)
    assert any(v[1] > 0 for v in got.values())


def test_media_decode_real_wav_and_bmp_end_to_end(spark):
    # REAL decode for codec-free formats (closes the "decode stays
    # stubbed" gap for everything that doesn't need PIL/pyav): a PCM
    # WAV written by stdlib `wave` and a 24-bit BMP composed by hand,
    # decoded distributed through mapInPandas, features checked against
    # values computed directly from the source arrays. A codec-needing
    # payload must surface as ok=false on ITS row, not fail the job.
    import io
    import struct
    import wave

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_decode,
    )

    # -- real WAV: 16-bit mono PCM, 8 kHz, a known ramp
    samples = np.arange(-100, 100, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    wav_bytes = buf.getvalue()

    # -- real BMP: 3x2 uncompressed 24-bit, known BGR pixels
    width, height = 3, 2
    px = np.array(
        [[[10, 20, 30], [40, 50, 60], [70, 80, 90]],
         [[1, 2, 3], [4, 5, 6], [7, 8, 9]]],
        dtype=np.uint8,
    )  # [row][col][B,G,R]
    row_size = (width * 3 + 3) // 4 * 4
    body = b"".join(
        px[r].tobytes() + b"\x00" * (row_size - width * 3)
        for r in range(height)
    )
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
    )
    bmp_bytes = header + body

    # -- real JPEG: encoded by the from-spec codec, decoded distributed
    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        decode_jpeg as jpeg_to_array,
        encode_jpeg,
    )

    rng = np.random.default_rng(9)
    jpg_img = rng.integers(0, 256, (10, 13, 3)).astype(np.uint8)
    jpg_bytes = encode_jpeg(jpg_img, quality=95, subsampling="420")
    jpg_sums = jpeg_to_array(jpg_bytes).reshape(-1, 3).astype(np.int64).sum(axis=0)

    # -- real animated GIF: lossless, so exact first-frame sums
    from data_ingestion_s3_to_parquet_spark.functions.gif import encode_gif

    pal = rng.integers(0, 256, (5, 3)).astype(np.uint8)
    gif_frames = [pal[rng.integers(0, 5, (6, 7))] for _ in range(3)]
    gif_bytes = encode_gif(gif_frames, delays_cs=[4, 4, 4])
    gif_sums = gif_frames[0].reshape(-1, 3).astype(np.int64).sum(axis=0)

    # -- real TIFF (r8): PackBits, big-endian — lossless, exact sums
    from data_ingestion_s3_to_parquet_spark.functions.tiff import (
        COMPRESSION_PACKBITS,
        encode_tiff,
    )

    tif_img = rng.integers(0, 256, (4, 5, 3)).astype(np.uint8)
    tif_bytes = encode_tiff(
        tif_img, compression=COMPRESSION_PACKBITS, byte_order=">"
    )
    tif_sums = tif_img.reshape(-1, 3).astype(np.int64).sum(axis=0)

    rows = [
        (1, "audio", bytearray(wav_bytes), "audio/wav", None, None, 8000),
        (2, "image", bytearray(bmp_bytes), "image/bmp", width, height, None),
        (3, "video", bytearray(b"\x00\x00\x00\x18ftypmp42 fake"), "video/mp4",
         None, None, None),
        (4, "image", bytearray(jpg_bytes), "image/jpeg", 13, 10, None),
        (5, "video", bytearray(gif_bytes), "image/gif", 7, 6, None),
        (6, "image", bytearray(tif_bytes), "image/tiff", 5, 4, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in media_decode(media).collect()}

    t = got[6]
    assert t.ok and (t.width, t.height) == (5, 4)
    assert (t.sum_r, t.sum_g, t.sum_b) == tuple(tif_sums)

    j = got[4]
    assert j.ok and (j.width, j.height) == (13, 10)
    assert (j.sum_r, j.sum_g, j.sum_b) == tuple(jpg_sums)

    g = got[5]
    assert g.ok and (g.width, g.height, g.n_frames) == (7, 6, 3)
    assert (g.sum_r, g.sum_g, g.sum_b) == tuple(gif_sums)

    a = got[1]
    assert a.ok and a.err is None
    assert (a.sample_rate, a.n_channels, a.n_samples) == (8000, 1, len(samples))
    assert a.energy == int((samples.astype(np.int64) ** 2).sum())

    i = got[2]
    assert i.ok and (i.width, i.height) == (width, height)
    flat = px.reshape(-1, 3).astype(np.int64)
    assert (i.sum_b, i.sum_g, i.sum_r) == tuple(flat.sum(axis=0))

    v = got[3]
    assert not v.ok and "NotImplementedError" in v.err  # codec seam intact


def test_oracle_replica_norm_cell_mirrors_driver_coercions():
    # the comparator rules the round-5 failure taught us (SCALE.md
    # §37): pandas nulls unify, DATE == midnight Timestamp, but int
    # vs float-int stays DISTINCT (the HUGEINT failure signature)
    import datetime as dt
    import sys as _sys

    import numpy as np
    import pandas as pd

    _sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent))
    from tools.oracle_check import norm_cell

    # null unification across pandas representations
    assert norm_cell(None) == norm_cell(float("nan")) == norm_cell(pd.NaT)
    # date == midnight timestamp (both engines' pandas forms)
    assert norm_cell(dt.date(1997, 2, 14)) == norm_cell(
        pd.Timestamp("1997-02-14 00:00:00")
    )
    # non-midnight timestamps keep full precision
    assert norm_cell(pd.Timestamp("1997-02-14 01:02:03")) != norm_cell(
        dt.date(1997, 2, 14)
    )
    # int vs integral float MUST differ — the driver hash does too
    assert norm_cell(3) != norm_cell(3.0)
    assert norm_cell(np.int64(3)) == norm_cell(3)
    assert norm_cell(np.float64(3.0)) == norm_cell(3.0)
    assert norm_cell(np.bool_(True)) == norm_cell(True)


def test_emb_gram_fast_matches_exact_lane(spark, sf_dir):
    # the float64 BLAS partial-Gram production lane must agree with the
    # exact decimal lane within float tolerance, cell for cell
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        emb_gram_fast,
        q_emb_gram,
    )

    exact = {(r.i, r.j): r.gram for r in q_emb_gram(spark, sf_dir).collect()}
    fast = {(r.i, r.j): r.gram for r in emb_gram_fast(spark, sf_dir).collect()}
    assert set(exact) == set(fast)
    assert len(exact) > 0
    assert all(abs(exact[k] - fast[k]) < 1e-6 for k in exact)


def test_emb_gram_diagonal_is_squared_norms(spark, sf_dir):
    # independent invariant: G[i,i] summed over i equals the summed
    # squared L2 norms of all vectors (trace identity)
    import math

    from data_ingestion_s3_to_parquet_spark.operators.similarity import q_emb_gram
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    trace = sum(
        r.gram for r in q_emb_gram(spark, sf_dir).collect() if r.i == r.j
    )
    norms = sum(
        sum(x * x for x in r.embedding)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    )
    assert math.isclose(trace, norms, rel_tol=1e-6)


def test_dedup_passages_edge_cases_planted_corpus(spark, tmp_path):
    # the fixture corpus has no short docs, so the slice-guard for
    # docs shorter than the n-gram never fires there — plant a corpus
    # that exercises: doc shorter than n (no grams), empty-ish doc,
    # two identical docs (fully scrubbed), and a unique doc (untouched)
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        q_dedup_passages,
    )

    rows = [
        (1, "a b c d e", "en", "s", 9),      # identical to doc 2
        (2, "a b c d e", "en", "s", 9),      # identical to doc 1
        (3, "x y", "en", "s", 3),            # shorter than n=3: no grams
        (4, "q w e r t", "en", "s", 9),      # unique: no hot grams
        (5, "z", "en", "s", 1),              # single token
        (6, "c d e f g", "en", "s", 9),      # shares the 'c d e' gram
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "planted")
    import os

    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = {
        r.doc_id: (r.n_tokens, r.n_scrubbed, r.scrubbed_text)
        for r in q_dedup_passages(spark, sf).collect()
    }
    # identical docs: every position covered by shared 3-grams
    assert got[1] == (5, 5, "") and got[2] == (5, 5, "")
    # shorter than n: no grams, nothing scrubbed
    assert got[3] == (2, 0, "x y")
    assert got[5] == (1, 0, "z")
    # unique doc: untouched
    assert got[4] == (5, 0, "q w e r t")
    # doc 6 shares exactly the gram "c d e" (positions 1-3) with 1/2
    assert got[6] == (5, 3, "f g")


def test_passage_scrub_planted_boilerplate_recall(spark):
    # VERDICT r7 #7: the Lee-et-al boilerplate-removal claim, pinned
    # directly — a fixed boilerplate sentence planted into half the
    # corpus must be scrubbed from EVERY planted doc (100% recall on
    # ≥n-token repeats), while each doc's unique remainder survives
    # verbatim and unplanted docs are untouched.
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        passage_scrub,
    )

    boiler = "subscribe to our newsletter for daily updates"  # 7 tokens
    rows = []
    for i in range(10):
        unique = " ".join(f"u{i}w{j}" for j in range(8))  # 8 unique tokens
        if i < 5:
            # plant at alternating ends so coverage spans positions
            text = f"{boiler} {unique}" if i % 2 == 0 else f"{unique} {boiler}"
        else:
            text = unique
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        r.doc_id: (r.n_tokens, r.n_scrubbed, r.scrubbed_text)
        for r in passage_scrub(docs).collect()
    }
    for i in range(10):
        unique = " ".join(f"u{i}w{j}" for j in range(8))
        if i < 5:
            # the full 7-token boilerplate is gone, the unique text
            # survives in order
            assert got[i] == (15, 7, unique), got[i]
        else:
            assert got[i] == (8, 0, unique), got[i]
    # and the scale lane composes the same core: the inflated corpus
    # must saturate coverage (every doc duplicated 4x -> fully hot)
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        _PASSAGE_SCALE_COPIES,
        _PASSAGE_SCALE_STRIDE,
    )

    import pyspark.sql.functions as F

    base = spark.createDataFrame(
        [(0, "p q r s t")], "doc_id long, text string"
    )
    big = base
    for k in range(1, _PASSAGE_SCALE_COPIES):
        big = big.unionByName(
            base.select(
                (F.col("doc_id") + k * _PASSAGE_SCALE_STRIDE).alias("doc_id"),
                "text",
            )
        )
    out = passage_scrub(big).collect()
    assert len(out) == _PASSAGE_SCALE_COPIES
    assert all(r.n_scrubbed == 5 and r.scrubbed_text == "" for r in out)


def test_passage_scrub_hashed_grams_match_string_grams(spark, sf_dir):
    # r14 optimization: _hot_covered_base keys the hot-gram aggregation
    # and semi-join on xxhash64(token n-gram) instead of the gram STRING
    # (narrower shuffle keys — guide §2.3). Pin that the scrub output is
    # bitwise what the string-gram formulation produces on the real
    # fixture (the documented hashed-shingle trade: collisions are
    # ~N²/2⁶⁵; the DuckDB oracle independently keeps string grams).
    import pyspark.sql.functions as F

    import data_ingestion_s3_to_parquet_spark.operators.trainprep as tp
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = sorted(
        tuple(r) for r in tp.passage_scrub(docs).collect()
    )

    def _string_gram_base(d):
        base = d.select("doc_id", F.split(F.col("text"), " ").alias("tk"))
        n = tp.SCRUB_NGRAM_N
        grams = F.expr(
            f"slice(transform(sequence(1, greatest(size(tk) - {n - 1}, 1)),"
            f" i -> struct(i AS p, concat_ws(' ', slice(tk, i, {n})) AS g)),"
            f" 1, greatest(size(tk) - {n - 1}, 0))"
        )
        occ = base.select("doc_id", F.explode(grams).alias("o")).select(
            "doc_id", F.col("o.p").alias("p"), F.col("o.g").alias("g")
        )
        hot = (
            occ.groupBy("g")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .where(F.col("nd") >= tp.SCRUB_MIN_DOCS)
            .select("g")
            .hint("shuffle_hash")
        )
        starts = (
            occ.join(hot, "g", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("p").alias("ps"))
        )
        return base, base.join(starts.hint("shuffle_hash"), "doc_id", "left")

    orig = tp._hot_covered_base
    tp._hot_covered_base = _string_gram_base
    try:
        want = sorted(tuple(r) for r in tp.passage_scrub(docs).collect())
    finally:
        tp._hot_covered_base = orig
    assert got == want


def test_passage_scrub_survives_ansi_session(spark):
    # ADVICE r14: the hashed-gram transform pads short docs with one
    # i=1 entry whose i+j indexes past the token array before the
    # outer slice discards it — element_at there threw
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT under a foreign ANSI-on
    # session (the Spark 4 default). try_element_at must keep the
    # scrub running AND unchanged under ANSI, including on documents
    # shorter than SCRUB_NGRAM_N tokens (the only rows that hit the
    # out-of-bounds path). Mirrors
    # test_connected_components_converges_under_ansi_session.
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        SCRUB_NGRAM_N,
        passage_scrub,
    )

    assert SCRUB_NGRAM_N == 3  # the fixture below assumes n=3
    docs = spark.createDataFrame(
        [
            (0, "a b"),          # shorter than n: pads an OOB gram entry
            (1, "x"),            # 1 token: same
            (2, "p q r s t"),
            (3, "p q r s t"),    # hot grams shared with doc 2
            (4, "u v w"),        # exactly n tokens, no hot grams
        ],
        "doc_id long, text string",
    )

    def run():
        return sorted(tuple(r) for r in passage_scrub(docs).collect())

    want = run()  # ANSI off (session default via tune())
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = run()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == want
    # tuples are (doc_id, n_tokens, n_scrubbed, scrubbed_text): short
    # docs pass through unscrubbed; the duplicated passage is fully
    # scrubbed in both sessions
    by_id = {t[0]: t for t in got}
    assert by_id[0][2] == 0 and by_id[1][2] == 0
    assert by_id[2][2] == 5 and by_id[3][2] == 5


def test_emb_whiten_covariance_is_identity(spark, sf_dir):
    # the whitened corpus must have (near-)identity empirical
    # covariance — the defining property of ZCA — and preserve row
    # identity (vec_id bijection with the input)
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        emb_whiten,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = emb_whiten(spark, sf_dir).collect()
    n_in = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_in
    assert len({r.vec_id for r in rows}) == n_in

    y = np.array([r.white for r in rows])
    cov = np.cov(y, rowvar=False)
    d = cov.shape[0]
    # eps regularization + near-degenerate directions allow small
    # deviation; everything must still be close to I
    assert np.abs(np.diag(cov) - 1.0).max() < 0.05
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 0.05


def test_artifact_pointer_swap_keeps_old_generation_valid(spark, tmp_path, monkeypatch):
    # the r6 commit protocol: a new build must land under a NEW token
    # and swap the pointer atomically, leaving the previous generation
    # intact until the swap — so a reader holding the old pointer can
    # never see a torn directory; orphans sweep on the next build
    import json
    import os

    import tempfile as _tempfile

    from data_ingestion_s3_to_parquet_spark import artifacts
    from data_ingestion_s3_to_parquet_spark.artifacts import persisted_frame

    monkeypatch.setattr(_tempfile, "gettempdir", lambda: str(tmp_path))
    # grace=0 so THIS test can observe the sweep itself; the
    # interleaved-writers test covers the grace period's purpose
    monkeypatch.setattr(artifacts, "SWEEP_GRACE_SECONDS", 0)

    calls = []

    def build():
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "x")

    got1 = {r.x for r in persisted_frame(spark, "t", "k", build, ("x",)).collect()}
    assert got1 == set(range(5)) and len(calls) == 1
    base = str(tmp_path / "spark_graft_t" / "k")
    with open(os.path.join(base, "checksum.json")) as fh:
        meta1 = json.load(fh)
    gen1 = f"data-{meta1['token']}.parquet"
    assert os.path.isdir(os.path.join(base, gen1))

    # warm read: no rebuild, same pointer
    persisted_frame(spark, "t", "k", build, ("x",)).collect()
    assert len(calls) == 1

    # corrupt the pointer → rebuild lands under a NEW token and the
    # orphaned old generation is swept
    with open(os.path.join(base, "checksum.json"), "w") as fh:
        json.dump({"token": meta1["token"], "count": -1, "hashsum": 0}, fh)
    got2 = {r.x for r in persisted_frame(spark, "t", "k", build, ("x",)).collect()}
    assert got2 == got1 and len(calls) == 2
    with open(os.path.join(base, "checksum.json")) as fh:
        meta2 = json.load(fh)
    assert meta2["token"] != meta1["token"]
    gens = set(n for n in os.listdir(base) if n.startswith("data-"))
    # the superseded generation survives ITS OWN replacement build (the
    # sweep runs pre-commit, while the old pointer is still live — a
    # reader holding it must stay whole); it is swept by the NEXT build
    assert f"data-{meta2['token']}.parquet" in gens and len(gens) <= 2
    with open(os.path.join(base, "checksum.json"), "w") as fh:
        json.dump({"token": meta2["token"], "count": -1, "hashsum": 0}, fh)
    persisted_frame(spark, "t", "k", build, ("x",)).collect()
    assert len(calls) == 3
    gens = set(n for n in os.listdir(base) if n.startswith("data-"))
    assert gen1 not in gens and len(gens) <= 2


def test_artifact_sweep_grace_restarts_at_decommit(spark, tmp_path, monkeypatch):
    # ADVICE r6 (medium): sweep age used to run from the generation
    # directory's WRITE time, so a generation that stayed committed
    # longer than the grace period was swept by the very next build
    # after being superseded — while another session's lazy DataFrame
    # could still resolve the old pointer into it. The pointer swap now
    # touches the superseded generation, restarting its clock at
    # DECOMMIT time.
    import json
    import os
    import time

    import tempfile as _tempfile

    from data_ingestion_s3_to_parquet_spark.artifacts import persisted_frame

    monkeypatch.setattr(_tempfile, "gettempdir", lambda: str(tmp_path))
    # default grace stays: this test relies on it being much larger
    # than the test's own runtime

    def build():
        return spark.range(3).withColumnRenamed("id", "x")

    def corrupt_pointer(base):
        with open(os.path.join(base, "checksum.json")) as fh:
            meta = json.load(fh)
        with open(os.path.join(base, "checksum.json"), "w") as fh:
            json.dump({**meta, "count": -1}, fh)
        return meta["token"]

    persisted_frame(spark, "g", "k", build, ("x",)).collect()
    base = str(tmp_path / "spark_graft_g" / "k")
    tok1 = corrupt_pointer(base)
    gen1 = os.path.join(base, f"data-{tok1}.parquet")
    # simulate a generation that was live far longer than the grace
    old = time.time() - 100_000
    os.utime(gen1, (old, old))

    persisted_frame(spark, "g", "k", build, ("x",)).collect()  # swap → gen2
    assert os.path.getmtime(gen1) > old + 50_000  # decommit touch landed
    corrupt_pointer(base)
    persisted_frame(spark, "g", "k", build, ("x",)).collect()  # gen3 sweeps
    # gen1 is non-current now but its clock restarted at decommit, so
    # the sweep must have left it alone
    assert os.path.isdir(gen1)


def test_artifact_sweep_collects_orphan_pointer_tmp(spark, tmp_path, monkeypatch):
    # ADVICE r6: checksum.json.tmp-<token> files left by a crash
    # between write and os.replace must age out with the generations
    import os

    import tempfile as _tempfile

    from data_ingestion_s3_to_parquet_spark import artifacts
    from data_ingestion_s3_to_parquet_spark.artifacts import persisted_frame

    monkeypatch.setattr(_tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(artifacts, "SWEEP_GRACE_SECONDS", 0)

    def build():
        return spark.range(3).withColumnRenamed("id", "x")

    persisted_frame(spark, "o", "k", build, ("x",)).collect()
    base = str(tmp_path / "spark_graft_o" / "k")
    orphan = os.path.join(base, "checksum.json.tmp-deadbeef")
    with open(orphan, "w") as fh:
        fh.write("{torn")
    persisted_frame(spark, "o", "k", build, ("x",)).collect()  # warm read: no sweep
    assert os.path.exists(orphan)  # sweeps only run on builds
    import json

    with open(os.path.join(base, "checksum.json")) as fh:
        meta = json.load(fh)
    with open(os.path.join(base, "checksum.json"), "w") as fh:
        json.dump({**meta, "count": -1}, fh)
    persisted_frame(spark, "o", "k", build, ("x",)).collect()  # rebuild sweeps
    assert not os.path.exists(orphan)
    with open(os.path.join(base, "checksum.json")) as fh:
        assert json.load(fh)["count"] == 3  # live pointer intact


def test_whitened_artifact_matches_rebuild(spark, sf_dir):
    # the persisted whitened-embedding table feeding dedup_semantic
    # must match a fresh emb_whiten pass within float tolerance (the
    # whitening family's documented layout drift), and a corrupted
    # checksum must force a rebuild
    import json
    import os
    import tempfile

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.artifacts import (
        fixture_fingerprint,
    )
    from data_ingestion_s3_to_parquet_spark.operators.dedup import _whitened
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        emb_whiten,
    )

    fresh = {r.vec_id: np.array(r.white) for r in emb_whiten(spark, sf_dir).collect()}
    for pass_no in range(2):  # cold build, then warm cache hit
        got = {r.vec_id: np.array(r.white) for r in _whitened(spark, sf_dir).collect()}
        assert got.keys() == fresh.keys()
        for k in fresh:
            assert np.allclose(got[k], fresh[k], atol=1e-9), (pass_no, k)

    meta = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_whitened",
        f"zca-{fixture_fingerprint(sf_dir, 'embeddings')}",
        "checksum.json",
    )
    assert os.path.exists(meta)
    with open(meta, "w") as fh:
        json.dump({"count": -1, "hashsum": 0}, fh)  # corrupt it
    got = {r.vec_id: np.array(r.white) for r in _whitened(spark, sf_dir).collect()}
    for k in fresh:
        assert np.allclose(got[k], fresh[k], atol=1e-9)
    with open(meta) as fh:
        assert json.load(fh)["count"] == len(fresh)  # pointer repaired


def test_strip_markup_round_trips_original_text(spark, sf_dir):
    # stripping must exactly invert the synthesized wrapper: clean
    # text == original text with the injected tokens restored, and
    # the audit counts must match the injection rule
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_strip_markup,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    orig = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    for r in q_strip_markup(spark, sf_dir).collect():
        expect = orig[r.doc_id]
        if r.doc_id % 3 == 0:
            expect = "& " + expect
        if r.doc_id % 2 == 0:
            expect = "bold " + expect
        assert r.clean_text == expect
        assert r.n_tags == 4 + (2 if r.doc_id % 2 == 0 else 0)
        assert r.n_entities == (1 if r.doc_id % 3 == 0 else 0)


def _py_quantize(embedding, scale):
    # round-half-away-from-zero of the EXACT double product (24+20
    # mantissa bits), mirroring Spark/DuckDB round()
    q = []
    for x in embedding:
        p = float(x) * scale
        f = math.floor(p)
        frac = p - f
        if frac > 0.5 or (frac == 0.5 and p >= 0):
            q.append(f + 1)
        elif frac == 0.5:  # negative midpoint: away from zero
            q.append(f)
        else:
            q.append(f)
    return q


def _py_kmeans(vecs, k, iters):
    """Reference fixed-point Lloyd trainer: same argmin tie rule
    (lowest cluster id), same half-away-from-zero integer mean, same
    empty-cluster carry-over as operators.similarity.kmeans_train.
    Returns vec_id -> (dist_sq, cluster) of the final assignment."""
    cent = [list(vecs[j]) for j in range(k)]

    def assign():
        return {
            vid: min(
                (sum((a - b) ** 2 for a, b in zip(v, c)), j)
                for j, c in enumerate(cent)
            )
            for vid, v in vecs.items()
        }

    for _ in range(iters):
        a = assign()
        sums = {}
        for vid, (_, cl) in a.items():
            s, n = sums.setdefault(cl, ([0] * len(cent[0]), 0))
            for i, x in enumerate(vecs[vid]):
                s[i] += x
            sums[cl] = (s, n + 1)
        for cl, (s, n) in sums.items():
            cent[cl] = [
                (1 if si >= 0 else -1) * ((2 * abs(si) + n) // (2 * n))
                for si in s
            ]
    return assign()


def test_kmeans_matches_pure_python_recompute(spark, sf_dir):
    # the fixed-point Lloyd's iteration must be exactly reproducible
    # by a pure-Python integer recompute
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        KMEANS_SCALE,
        q_kmeans_embeddings,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {r.vec_id: _py_quantize(r.embedding, KMEANS_SCALE) for r in rows}
    expect = _py_kmeans(vecs, KMEANS_K, KMEANS_ITERS)

    got = {
        r.vec_id: (r.dist_sq, r.cluster)
        for r in q_kmeans_embeddings(spark, sf_dir).collect()
    }
    assert got == expect


def test_sim_join_kmeans_pairs_are_within_cell_and_thresholded(spark, sf_dir):
    # every returned pair must (a) share a k-means cell per the
    # assignment operator, (b) clear the cosine threshold, and (c) be
    # exactly the subset of the all-pairs join that shares a cell
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        SIM_JOIN_THRESHOLD,
        q_kmeans_embeddings,
        q_sim_join_kmeans,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    cell = {
        r.vec_id: r.cluster
        for r in q_kmeans_embeddings(spark, sf_dir).collect()
    }
    vecs = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) * float(x) for x in a) ** 0.5
        nb = sum(float(y) * float(y) for y in b) ** 0.5
        return num / (na * nb)

    expect = set()
    ids = sorted(vecs)
    for i, va in enumerate(ids):
        for vb in ids[i + 1 :]:
            if cell[va] == cell[vb] and cos(vecs[va], vecs[vb]) >= (
                SIM_JOIN_THRESHOLD - 1e-9
            ):
                expect.add((va, vb))

    got = {
        (r.vec_a, r.vec_b)
        for r in q_sim_join_kmeans(spark, sf_dir).collect()
    }
    # float recompute can disagree with the engine at the threshold
    # boundary by an ulp; allow only boundary-adjacent asymmetry
    assert got <= expect
    for va, vb in expect - got:
        assert abs(cos(vecs[va], vecs[vb]) - SIM_JOIN_THRESHOLD) < 1e-6


def test_pq_encode_matches_pure_python_recompute(spark, sf_dir):
    # each subspace must reproduce the reference trainer on its slice,
    # and err_sq must be the exact sum of per-subspace distances
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        KMEANS_SCALE,
        PQ_ITERS,
        PQ_K,
        PQ_SUB_DIM,
        PQ_SUBSPACES,
        q_pq_encode,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()

    expect = {}
    for m in range(PQ_SUBSPACES):
        vecs = {
            r.vec_id: _py_quantize(
                r.embedding[m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM],
                KMEANS_SCALE,
            )
            for r in rows
        }
        for vid, (dist, cl) in _py_kmeans(vecs, PQ_K, PQ_ITERS).items():
            codes, err = expect.setdefault(vid, ([], 0))
            expect[vid] = (codes + [cl], err + dist)

    got = {
        r.vec_id: ([r.code_0, r.code_1, r.code_2, r.code_3], r.err_sq)
        for r in q_pq_encode(spark, sf_dir).collect()
    }
    assert got == {v: (c, e) for v, (c, e) in expect.items()}


def test_ann_pq_topk_matches_pure_python_adc(spark, sf_dir):
    # the ADC ranking must equal a pure-Python replay: fit codebooks
    # with the reference trainer, build the query LUTs, score every
    # vector by table lookup, take top-k on (dist ASC, vec_id ASC)
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        KMEANS_SCALE,
        PQ_ITERS,
        PQ_K,
        PQ_SUB_DIM,
        PQ_SUBSPACES,
        QUERY_VEC_ID,
        TOP_K,
        q_ann_pq_topk,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()

    scores = {r.vec_id: 0 for r in rows if r.vec_id != QUERY_VEC_ID}
    for m in range(PQ_SUBSPACES):
        vecs = {
            r.vec_id: _py_quantize(
                r.embedding[m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM],
                KMEANS_SCALE,
            )
            for r in rows
        }
        # reference trainer: re-fit the codebook, not just assignments
        cent = [list(vecs[j]) for j in range(PQ_K)]
        for _ in range(PQ_ITERS):
            sums = {}
            for vid, v in vecs.items():
                _, cl = min(
                    (sum((a - b) ** 2 for a, b in zip(v, c)), j)
                    for j, c in enumerate(cent)
                )
                s, n = sums.setdefault(cl, ([0] * PQ_SUB_DIM, 0))
                for i, x in enumerate(v):
                    s[i] += x
                sums[cl] = (s, n + 1)
            for cl, (s, n) in sums.items():
                cent[cl] = [
                    (1 if si >= 0 else -1) * ((2 * abs(si) + n) // (2 * n))
                    for si in s
                ]
        qv = vecs[QUERY_VEC_ID]
        lut = [
            sum((a - b) ** 2 for a, b in zip(qv, c)) for c in cent
        ]
        for vid, v in vecs.items():
            if vid == QUERY_VEC_ID:
                continue
            _, code = min(
                (sum((a - b) ** 2 for a, b in zip(v, c)), j)
                for j, c in enumerate(cent)
            )
            scores[vid] += lut[code]

    expect = sorted(scores.items(), key=lambda kv: (kv[1], kv[0]))[:TOP_K]
    got = [
        (r.vec_id, r.adc_dist)
        for r in q_ann_pq_topk(spark, sf_dir).collect()
    ]
    assert got == expect


def test_kmeans_empty_cluster_carries_previous_centroid(spark):
    # a cluster can only go empty when seeds are duplicated (every
    # seed otherwise captures at least itself): with seeds [0],[0],
    # every round-1 point ties or loses to cluster 0, so cluster 1 is
    # EMPTY and must carry its previous centroid — and that carried
    # value must still compete in later rounds (here it wins back the
    # origin points in round 2 after cluster 0's mean drifts to 5).
    # This is the Spark side of the SQL oracle's COALESCE rule.
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        kmeans_train,
    )

    rows = [(0, [0]), (1, [0]), (2, [8]), (3, [8]), (4, [8])]
    q = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    out = {
        r.vec_id: (r.cluster, r.dist_sq)
        for r in kmeans_train(q, 2, 2).collect()
    }
    # round 1: all -> c0 (ties break low); c0 mean = round(24/5) = 5,
    #          c1 carries [0]
    # round 2: origin points -> carried c1 (d 0 beats d 25); eights
    #          -> c0 (d 9 beats d 64); c0 mean 8, c1 mean 0
    # final:   exact fit on both centroids
    assert out == {0: (1, 0), 1: (1, 0), 2: (0, 0), 3: (0, 0), 4: (0, 0)}


def test_freq_items_sketch_contract_and_exact_counts(spark, sf_dir):
    # n_exact must equal a pure-Python Counter over the same token
    # stream (top-20 on the (count DESC, token ASC) order), and the
    # Misra-Gries contract boolean must hold on every row
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        FREQ_TOP,
        q_freq_items_topk,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    c = Counter()
    for r in load_table(spark, sf_dir, "documents").select("text").collect():
        c.update((r.text or "").split(" "))
    expect = dict(
        sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:FREQ_TOP]
    )

    rows = q_freq_items_topk(spark, sf_dir).collect()
    assert len(rows) == FREQ_TOP
    assert {r.w: r.n_exact for r in rows} == expect
    assert all(r.sketch_ok for r in rows)


def test_mg_summary_never_overcounts():
    # the per-partition Misra-Gries generator must underestimate every
    # true count, and undershoot by at most N/(capacity+1) — exercised
    # on a skewed synthetic stream larger than the capacity
    from collections import Counter

    import pandas as pd

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        MG_CAPACITY,
        _mg_summaries,
    )

    docs = []
    for i in range(600):
        # 600 distinct rare words + heavy hitters woven through
        docs.append(f"w{i} hot" if i % 2 == 0 else f"w{i} warm hot")
    truth = Counter()
    for d in docs:
        truth.update(d.split(" "))
    n_tok = sum(truth.values())

    out = list(_mg_summaries(iter([pd.DataFrame({"text": docs})])))
    assert len(out) == 1 and len(out[0]) <= MG_CAPACITY + 1
    est = dict(zip(out[0]["w"], out[0]["est"]))
    for w, e in est.items():
        assert 0 < e <= truth[w]
    for w, t in truth.items():
        assert t - est.get(w, 0) <= n_tok // (MG_CAPACITY + 1)


def test_graph_triangles_match_pure_python_recompute(spark, sf_dir):
    # per-vertex triangle counts must equal a brute-force recompute
    # over the same canonicalized undirected k-NN edge set
    from collections import Counter
    from itertools import combinations

    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        _knn_edges,
        q_graph_triangles,
    )

    edges = {
        (min(r.src, r.dst), max(r.src, r.dst))
        for r in _knn_edges(spark, sf_dir).select("src", "dst").collect()
        if r.src != r.dst
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = Counter()
    for v, nbrs in adj.items():
        for x, y in combinations(sorted(nbrs), 2):
            if (min(x, y), max(x, y)) in edges:
                counts[v] += 1
    # each triangle was counted once per corner above
    expect = {v: n for v, n in counts.items() if n}

    got = {
        r.vec_id: r.n_triangles
        for r in q_graph_triangles(spark, sf_dir).collect()
    }
    assert got == expect


def test_bpe_merges_match_pure_python_recompute(spark, sf_dir):
    # the 5 learned merge rules must equal a pure-Python BPE trainer
    # over the same word histogram: same weighted pair counts, same
    # (n DESC, pair ASC) election, same leftmost-non-overlapping
    # space-delimited merge
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BPE_ROUNDS,
        q_bpe_merges,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    hist = Counter()
    for r in load_table(spark, sf_dir, "documents").select("text").collect():
        for w in r.text.split(" "):
            if w:
                hist[w] += 1

    forms = {" " + " ".join(w) + " ": n for w, n in hist.items()}
    expect = []
    for rank in range(1, BPE_ROUNDS + 1):
        pairs = Counter()
        for s, n in forms.items():
            sym = s.strip().split(" ")
            for a, b in zip(sym, sym[1:]):
                pairs[f"{a} {b}"] += n
        pair, n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rank, pair, pair.replace(" ", ""), n))
        merged = Counter()
        for s, cnt in forms.items():
            merged[
                s.replace(f" {pair} ", f" {pair.replace(' ', '')} ")
            ] += cnt
        forms = merged

    got = [
        (r.merge_rank, r.pair, r.merged, r.n)
        for r in q_bpe_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert got == expect


def test_bpe_apply_matches_pure_python_recompute(spark, sf_dir):
    # per-document BPE token counts must equal applying the learned
    # rules (recomputed in pure Python, same replace semantics) to
    # every word and summing per document
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BPE_ROUNDS,
        q_bpe_apply,
        q_bpe_merges,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rules = [
        r.pair
        for r in q_bpe_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert len(rules) == BPE_ROUNDS

    def segment(word):
        s = " " + " ".join(word) + " "
        for pair in rules:
            s = s.replace(f" {pair} ", f" {pair.replace(' ', '')} ")
        sym = s.strip().split(" ")
        return len(word), len(sym)

    seg_cache = {}
    expect = {}
    docs = Counter()
    for r in load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect():
        n_words = n_chars = n_sym = 0
        for w in r.text.split(" "):
            if not w:
                continue
            if w not in seg_cache:
                seg_cache[w] = segment(w)
            c, s = seg_cache[w]
            n_words += 1
            n_chars += c
            n_sym += s
        rate = (
            (2 * n_chars * 1_000_000 + n_sym) // (2 * n_sym)
        ) / 1_000_000
        expect[r.doc_id] = (n_words, n_chars, n_sym, rate)
        docs[r.doc_id] += 1

    got = {
        r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens, r.chars_per_token)
        for r in q_bpe_apply(spark, sf_dir).collect()
    }
    assert got == expect


def test_vocab_coverage_matches_recompute(spark, sf_dir):
    # OOV totals must equal a Counter recompute against the top-1000
    # vocab on the same total order, and rates must be the half-up
    # fixed-point quotient
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        VOCAB_N,
        q_vocab_coverage,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    per_lang = defaultdict(Counter)
    allc = Counter()
    for r in load_table(spark, sf_dir, "documents").select(
        "lang", "text"
    ).collect():
        toks = r.text.split(" ")
        per_lang[r.lang].update(toks)
        allc.update(toks)
    vocab = {
        w for w, _ in sorted(allc.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_N]
    }

    expect = {}
    for lang, c in per_lang.items():
        n_tok = sum(c.values())
        n_oov = sum(n for w, n in c.items() if w not in vocab)
        rate = ((2 * n_oov * 1_000_000 + n_tok) // (2 * n_tok)) / 1_000_000
        expect[lang] = (n_tok, n_oov, rate)

    got = {
        r.lang: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in q_vocab_coverage(spark, sf_dir).collect()
    }
    assert got == expect


def test_dedup_soft_weights_match_recompute(spark, sf_dir):
    # per-document weight must be the half-up fixed-point 1/n of the
    # exact duplicate-cluster size, and is_canonical must mark exactly
    # the min-doc_id member of each cluster
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        SOFT_WEIGHT_SCALE,
        q_dedup_soft,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    groups = defaultdict(list)
    for r in load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect():
        groups[r.text].append(r.doc_id)

    expect = {}
    for ids in groups.values():
        n = len(ids)
        w = ((2 * SOFT_WEIGHT_SCALE + n) // (2 * n)) / SOFT_WEIGHT_SCALE
        canon = min(ids)
        for i in ids:
            expect[i] = (n, i == canon, w)

    got = {
        r.doc_id: (r.n_copies, r.is_canonical, r.weight)
        for r in q_dedup_soft(spark, sf_dir).collect()
    }
    assert got == expect


def test_mix_weights_sum_to_one_and_order_by_sqrt(spark, sf_dir):
    # weights must (a) sum to 1 within quantization slack, (b) order
    # like sqrt(token count) — the temperature flattens but never
    # reorders — and (c) reproduce from an independent recompute
    import math

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        q_mix_weights,
    )

    rows = q_mix_weights(spark, sf_dir).collect()
    assert len(rows) >= 2
    total = sum(r.weight for r in rows)
    assert abs(total - 1.0) <= len(rows) * 1e-6  # per-lang half-up slack
    by_tokens = sorted(rows, key=lambda r: r.n_tokens)
    by_weight = sorted(rows, key=lambda r: r.weight)
    assert [r.lang for r in by_tokens] == [r.lang for r in by_weight]
    su = {r.lang: int(round(math.sqrt(r.n_tokens) * 1_000_000)) for r in rows}
    tot = sum(su.values())
    for r in rows:
        expect = ((2 * su[r.lang] * 1_000_000 + tot) // (2 * tot)) / 1e6
        assert r.weight == expect


def test_ngram_counts_matches_python_recount(spark, tmp_path):
    # exact recompute on a tiny corpus, including the deterministic
    # tie-break at the cut
    from collections import Counter

    import data_ingestion_s3_to_parquet_spark.operators.textstats as ts

    docs = [
        (0, "a b a b c", "en"),
        (1, "a b x", "en"),
        (2, "z", "de"),          # single token: no bigram
        (3, "x y x y", "de"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = {(r.gram, r.n) for r in ts.q_ngram_counts(spark, str(tmp_path)).collect()}
    c = Counter()
    for _, text, _ in docs:
        t = text.split(" ")
        c.update(f"{t[i]} {t[i+1]}" for i in range(len(t) - 1))
    assert got == {(g, n) for g, n in c.items()}


def test_merge_intervals_disjoint_and_cover(spark, sf_dir):
    # merged intervals per user must be disjoint (gap > 0 between
    # consecutive islands), ordered island ids, and event counts must
    # partition the events table
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_merge_intervals,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = q_merge_intervals(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == n_events
    per_user = defaultdict(list)
    for r in rows:
        assert r.start_sec < r.end_sec
        per_user[r.user_id].append(r)
    merged_away = False
    for ivs in per_user.values():
        ivs.sort(key=lambda r: r.start_sec)
        assert [r.interval_id for r in ivs] == list(range(1, len(ivs) + 1))
        for a, b in zip(ivs, ivs[1:]):
            assert b.start_sec > a.end_sec  # disjoint, strictly
        merged_away |= any(r.n_events > 1 for r in ivs)
    assert merged_away  # the fixture actually exercises merging


def test_dedup_keep_best_picks_max_score_per_duplicate_group(spark, sf_dir):
    # every kept doc must be the (score DESC, doc_id ASC)-first member
    # of its exact-text duplicate group, with n_copies = group size —
    # recomputed independently from the raw tables + classifier output
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        q_dedup_keep_best,
    )
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_quality_classifier,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    scores = {
        r.doc_id: r.score for r in q_quality_classifier(spark, sf_dir).collect()
    }
    groups = defaultdict(list)
    for r in load_table(spark, sf_dir, "documents").collect():
        groups[r.text].append(r.doc_id)
    expected = {}
    for ids in groups.values():
        best = min(ids, key=lambda i: (-scores[i], i))
        expected[best] = (scores[best], len(ids))

    got = {
        r.doc_id: (r.best_score, r.n_copies)
        for r in q_dedup_keep_best(spark, sf_dir).collect()
    }
    assert got == expected


def test_decode_png_all_filters_and_color_types():
    # hand-built PNGs (stdlib struct+zlib only) with every scanline
    # filter type and three color types; the encoder computes filtered
    # bytes from known raw pixels, so the decoder must invert exactly
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def encode(px, color_type, filters):
        # px: (h, w, ch) uint8; filters: per-row filter type
        h, w, ch = px.shape
        raw = bytearray()
        prev = np.zeros(w * ch, dtype=np.int32)
        for y in range(h):
            cur = px[y].reshape(-1).astype(np.int32)
            f = filters[y % len(filters)]
            raw.append(f)
            for x in range(w * ch):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                if f == 0:
                    v = cur[x]
                elif f == 1:
                    v = cur[x] - a
                elif f == 2:
                    v = cur[x] - b
                elif f == 3:
                    v = cur[x] - (a + b) // 2
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = cur[x] - pred
                raw.append(v & 0xFF)
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(7)
    # RGB, every filter type across rows
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    got = decode_media("image", encode(px, 2, [0, 1, 2, 3, 4]))
    s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
    assert (got["width"], got["height"]) == (4, 5)
    assert (got["sum_r"], got["sum_g"], got["sum_b"]) == tuple(s)

    # RGBA: alpha excluded from sums; Paeth-only filtering
    px4 = rng.integers(0, 256, size=(3, 3, 4), dtype=np.uint8)
    got4 = decode_media("image", encode(px4, 6, [4]))
    s4 = px4[:, :, :3].reshape(-1, 3).astype(np.int64).sum(axis=0)
    assert (got4["sum_r"], got4["sum_g"], got4["sum_b"]) == tuple(s4)

    # grayscale: one channel maps to all three sums; Sub filtering
    pxg = rng.integers(0, 256, size=(4, 6, 1), dtype=np.uint8)
    gotg = decode_media("image", encode(pxg, 0, [1]))
    g = int(pxg.astype(np.int64).sum())
    assert (gotg["sum_r"], gotg["sum_g"], gotg["sum_b"]) == (g, g, g)

    # dispatch by magic; unsupported depth stays behind the seam
    assert decode_media("image", encode(px, 2, [0]))["width"] == 4

    # real encoders split the compressed stream across multiple IDAT
    # chunks — the parser must concatenate before inflating
    z = zlib.compress(
        bytes(
            b"".join(
                bytes([0]) + px[y].tobytes() for y in range(px.shape[0])
            )
        )
    )
    multi = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", z[: len(z) // 2])
        + chunk(b"IDAT", z[len(z) // 2 :])
        + chunk(b"IEND", b"")
    )
    gm = decode_media("image", multi)
    assert (gm["sum_r"], gm["sum_g"], gm["sum_b"]) == tuple(s)
    bad_ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", bad_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError, match="16"):
        decode_media("image", bad)


def test_artifact_pointer_swap_interleaved_writers(spark, tmp_path, monkeypatch):
    # deterministic two-writer interleaving: writer A stalls between
    # writing its generation and committing its pointer; writer B runs
    # a complete build+commit in that window; A then commits. Readers
    # must see a CONSISTENT committed generation at every step (B's in
    # the window, A's after its late commit — last-write-wins), and
    # both generations must exist until a later build sweeps the loser.
    import json
    import os

    import tempfile as _tempfile

    from data_ingestion_s3_to_parquet_spark import artifacts
    from data_ingestion_s3_to_parquet_spark.artifacts import persisted_frame

    monkeypatch.setattr(_tempfile, "gettempdir", lambda: str(tmp_path))
    base = str(tmp_path / "spark_graft_iv" / "k")
    meta = os.path.join(base, "checksum.json")

    def build():
        return spark.range(4).withColumnRenamed("id", "x")

    # Writer A: run persisted_frame but PAUSE before its pointer commit
    # by intercepting os.replace once to first let writer B finish.
    state = {"b_done": False}
    real_replace = os.replace

    def interleaving_replace(src, dst):
        if dst == meta and not state["b_done"]:
            state["b_done"] = True
            # writer B completes a FULL build + commit inside A's window
            got_b = {
                r.x for r in persisted_frame(spark, "iv", "k", build, ("x",)).collect()
            }
            assert got_b == set(range(4))
            with open(meta) as fh:
                state["b_token"] = json.load(fh)["token"]
        return real_replace(src, dst)

    monkeypatch.setattr(artifacts.os, "replace", interleaving_replace)
    got_a = {
        r.x for r in persisted_frame(spark, "iv", "k", build, ("x",)).collect()
    }
    monkeypatch.setattr(artifacts.os, "replace", real_replace)
    assert got_a == set(range(4))

    # A committed last → A's pointer won; B's generation dir still
    # exists (never deleted under a live pointer window)
    with open(meta) as fh:
        final = json.load(fh)
    assert final["token"] != state["b_token"]
    gens = {n for n in os.listdir(base) if n.startswith("data-")}
    assert f"data-{final['token']}.parquet" in gens
    assert f"data-{state['b_token']}.parquet" in gens

    # a reader resolving the final pointer verifies cleanly
    got = {r.x for r in persisted_frame(spark, "iv", "k", build, ("x",)).collect()}
    assert got == set(range(4))


def test_fixture_rows_sums_directory_part_files(spark, tmp_path):
    # the 100 TB layout: a table is a DIRECTORY of part files; the
    # footer count must sum every member, not just read one file
    from data_ingestion_s3_to_parquet_spark.operators import guards

    sf = str(tmp_path)
    spark.range(1234).repartition(5).write.parquet(f"{sf}/events.parquet")
    assert guards.fixture_rows(sf, "events") == 1234


def test_markov_transitions_matches_python_recompute(spark, sf_dir):
    # independent recompute of the transition matrix from the raw
    # events: counts, per-source totals, and the half-up fixed-point
    # conditional probability must all match exactly
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_markov_transitions,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    trans = Counter()
    for evs in by_user.values():
        evs.sort()
        for (_, _, prev_t), (_, _, next_t) in zip(evs, evs[1:]):
            trans[(prev_t, next_t)] += 1
    totals = Counter()
    for (p, _), n in trans.items():
        totals[p] += n

    got = {
        (r.prev_type, r.next_type): r
        for r in q_markov_transitions(spark, sf_dir).collect()
    }
    assert set(got) == set(trans)
    for key, n in trans.items():
        r = got[key]
        n_from = totals[key[0]]
        assert r.n_trans == n and r.n_from == n_from
        assert r.p_trans == ((2 * n * 1_000_000 + n_from) // (2 * n_from)) / 1e6


def test_robust_stats_matches_python_recompute(spark, sf_dir):
    # PERCENTILE_DISC-at-ceil(p*n) semantics recomputed directly: every
    # emitted statistic is an actual data value at the pinned rank
    import math
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_robust_stats,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "lang", "n_chars", "doc_id"
    ).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append((r.n_chars, r.doc_id))

    got = {r.lang: r for r in q_robust_stats(spark, sf_dir).collect()}
    assert set(got) == set(by_lang)
    for lang, vals in by_lang.items():
        vals.sort()
        n = len(vals)
        q1 = vals[math.ceil(n / 4) - 1][0]
        med = vals[math.ceil(n / 2) - 1][0]
        q3 = vals[math.ceil(3 * n / 4) - 1][0]
        devs = sorted((abs(c - med), d) for c, d in vals)
        mad = devs[math.ceil(n / 2) - 1][0]
        r = got[lang]
        assert (r.n_docs, r.q1, r.median, r.q3, r.iqr, r.mad) == (
            n, q1, med, q3, q3 - q1, mad,
        )


def test_shard_manifest_matches_python_recompute(spark, sf_dir):
    # recompute shard keys, volumes, and XOR checksums directly from
    # the raw table; shards must partition the corpus exactly
    import hashlib
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        NUM_SHARDS,
        q_shard_manifest,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    ).collect()
    shards = defaultdict(list)
    for r in rows:
        k = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:6], 16)
        shards[k % NUM_SHARDS].append(r)

    got = {r.shard: r for r in q_shard_manifest(spark, sf_dir).collect()}
    assert set(got) == set(shards)
    assert sum(r.n_docs for r in got.values()) == len(rows)
    for s, members in shards.items():
        r = got[s]
        xor = 0
        for m in members:
            xor ^= int(hashlib.md5(m.text.encode()).hexdigest()[:12], 16)
        assert r.n_docs == len(members)
        assert r.sum_chars == sum(m.n_chars for m in members)
        assert r.sum_tokens == sum(len(m.text.split(" ")) for m in members)
        assert r.min_doc_id == min(m.doc_id for m in members)
        assert r.max_doc_id == max(m.doc_id for m in members)
        assert r.xor_fp == xor


def test_batch_by_length_batches_are_full_and_waste_is_consistent(spark, sf_dir):
    # every batch except possibly the last per bucket is exactly
    # BATCH_SIZE docs; token bounds honor the bucket edges; padding
    # fraction matches its own ingredients under the half-up rule
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        LEN_BATCH_SIZE,
        LEN_BUCKET_WIDTH,
        LEN_MAX_BUCKET,
        q_batch_by_length,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = q_batch_by_length(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_in_batch for r in rows) == n_docs
    per_bucket = defaultdict(list)
    for r in rows:
        per_bucket[r.bucket].append(r)
    for b, batches in per_bucket.items():
        batches.sort(key=lambda r: r.batch_id)
        assert [r.batch_id for r in batches] == list(range(len(batches)))
        for r in batches[:-1]:
            assert r.n_in_batch == LEN_BATCH_SIZE
        for r in batches:
            assert r.min_tokens >= b * LEN_BUCKET_WIDTH
            if b < LEN_MAX_BUCKET:
                assert r.max_tokens < (b + 1) * LEN_BUCKET_WIDTH
            assert r.min_tokens <= r.max_tokens
            cap = r.n_in_batch * r.max_tokens
            waste = cap - r.sum_tokens
            assert r.padding_frac == (
                (2 * waste * 1_000_000 + cap) // (2 * cap)
            ) / 1e6


def test_url_canonicalize_matches_python_recompute(spark, sf_dir):
    # canonicalization rules recomputed independently; dup groups must
    # actually occur on the fixture and keeper election must be the
    # min-doc_id member of each canonical group
    import re
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_url_canonicalize,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    ).collect()
    exp = {}
    groups = defaultdict(list)
    for r in docs:
        host = r.source.upper() if r.doc_id % 3 == 0 else r.source
        www = "WWW." if r.doc_id % 4 == 0 else ""
        slash = "/" if r.doc_id % 5 == 0 else ""
        raw = (
            f"https://{www}{host}.example.com/{r.lang}/article-"
            f"{r.doc_id % 25}{slash}?utm_source=feed&sid={r.doc_id}#sec"
        )
        canon = re.sub(r"[?#].*$", "", raw.lower())
        canon = re.sub(r"^https://www\.", "https://", canon)
        canon = re.sub(r"/$", "", canon)
        exp[r.doc_id] = (raw, canon)
        groups[canon].append(r.doc_id)

    got = {r.doc_id: r for r in q_url_canonicalize(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    assert any(len(g) > 1 for g in groups.values())  # dups exist
    for doc_id, (raw, canon) in exp.items():
        r = got[doc_id]
        assert r.url_raw == raw and r.url_canon == canon
        m = re.match(r"^https://([^/]+)(/.*)$", canon)
        assert r.host == m.group(1)
        assert r.tld == m.group(1).rsplit(".", 1)[1]
        assert r.path_depth == len(m.group(2).split("/")) - 1
        assert r.n_dups == len(groups[canon])
        assert r.keep == (doc_id == min(groups[canon]))


def test_cms_counts_estimates_match_global_sketch(spark, sf_dir):
    # the merged CMS is a pure cell-wise sum, so it is recomputable
    # exactly in Python for any layout: rebuild the global sketch,
    # verify the min-over-rows estimate for each top token, and the
    # contract flags
    import hashlib
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        CMS_DEPTH,
        CMS_TOP,
        CMS_WIDTH,
        q_cms_counts,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    exact = Counter()
    cells = Counter()
    for t in texts:
        for w in t.split(" "):
            exact[w] += 1
            for r in range(CMS_DEPTH):
                h = hashlib.md5(f"{r}:{w}".encode()).hexdigest()[:6]
                cells[(r, int(h, 16) % CMS_WIDTH)] += 1
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_TOP]
    n_total = sum(exact.values())

    got = {r.w: r for r in q_cms_counts(spark, sf_dir).collect()}
    assert set(got) == {w for w, _ in top}
    for w, n in top:
        r = got[w]
        est = min(
            cells[(
                d,
                int(hashlib.md5(f"{d}:{w}".encode()).hexdigest()[:6], 16)
                % CMS_WIDTH,
            )]
            for d in range(CMS_DEPTH)
        )
        assert r.n_exact == n
        assert r.cms_ok and n <= est <= n_total


def test_pmi_cooccur_matches_python_recompute(spark, sf_dir):
    # recompute counts and the micro-quantized PMI from raw text; the
    # top-k cut must follow the (count DESC, gram ASC) total order
    import math
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        PMI_MIN_COUNT,
        PMI_TOP,
        q_pmi_cooccur,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    uni, pairs = Counter(), Counter()
    for t in texts:
        toks = t.split(" ")
        uni.update(toks)
        pairs.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    n_uni, n_pairs = sum(uni.values()), sum(pairs.values())
    top = sorted(
        ((g, c) for g, c in pairs.items() if c >= PMI_MIN_COUNT),
        key=lambda kv: (-kv[1], kv[0]),
    )[:PMI_TOP]

    got = {r.gram: r for r in q_pmi_cooccur(spark, sf_dir).collect()}
    assert set(got) == {g for g, _ in top}
    for g, c_xy in top:
        x, y = g.split(" ")
        r = got[g]
        assert (r.x, r.y, r.c_xy, r.c_x, r.c_y) == (x, y, c_xy, uni[x], uni[y])
        ratio = (
            float(c_xy) * float(n_uni) * float(n_uni)
            / (float(n_pairs) * float(uni[x]) * float(uni[y]))
        )
        assert r.pmi == round(math.log2(ratio) * 1_000_000) / 1e6


def test_session_paths_matches_python_recompute(spark, sf_dir):
    # rebuild every user's first-3 path (including short-path users,
    # where concat_ws must skip the missing slots) and the shares
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        SESSION_PATH_LEN,
        q_session_paths,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    paths = Counter()
    for evs in by_user.values():
        evs.sort()
        paths[">".join(t for _, _, t in evs[:SESSION_PATH_LEN])] += 1
    n_total = len(by_user)

    got = {r.path: r for r in q_session_paths(spark, sf_dir).collect()}
    assert set(got) == set(paths)
    for p, n in paths.items():
        r = got[p]
        assert r.n_users == n
        assert r.share == ((2 * n * 1_000_000 + n_total) // (2 * n_total)) / 1e6


def test_chi2_contingency_matches_python_recompute(spark, sf_dir):
    # exact marginals and the r14 capacity-bounded two-step integer
    # statistic recomputed from the raw events; chi2_total must equal
    # the sum of the micro-quantized terms
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        CHI2_HOUR_BUCKETS,
        q_chi2_contingency,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "events").select("event_type", "ts").collect()
    cells = Counter(
        (r.event_type, r.ts.hour // (24 // CHI2_HOUR_BUCKETS)) for r in rows
    )
    r_tot, c_tot = Counter(), Counter()
    for (t, b), n in cells.items():
        r_tot[t] += n
        c_tot[b] += n
    n_tot = sum(cells.values())

    got = {(r.event_type, r.hour_bucket): r for r in q_chi2_contingency(spark, sf_dir).collect()}
    assert set(got) == set(cells)
    total_micro = 0
    terms = {}
    for (t, b), o in cells.items():
        rc = r_tot[t] * c_tot[b]
        e_u = (2 * 10**6 * rc + n_tot) // (2 * n_tot)
        dev = 10**6 * o - e_u
        tm = (2 * dev * dev + e_u) // (2 * e_u)
        terms[(t, b)] = tm
        total_micro += tm
    for key, o in cells.items():
        r = got[key]
        t, b = key
        rc = r_tot[t] * c_tot[b]
        assert r.n_obs == o
        assert r.expected == ((2 * rc * 1_000_000 + n_tot) // (2 * n_tot)) / 1e6
        assert r.chi2_term == terms[key] / 1e6
        assert r.chi2_total == total_micro / 1e6


def test_ann_two_stage_rerank_is_exact_topk_of_shortlist(spark, sf_dir):
    # stage 2 must return exactly the (exact_dist ASC, vec_id) top-k of
    # the ADC shortlist, with exact distances recomputed from the
    # quantized vectors in pure python
    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        ANN_SHORTLIST,
        KMEANS_SCALE,
        QUERY_VEC_ID,
        TOP_K,
        q_ann_two_stage,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    vecs = {
        r.vec_id: [round(float(x) * KMEANS_SCALE) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    q = vecs[QUERY_VEC_ID]

    rows = q_ann_two_stage(spark, sf_dir).collect()
    assert len(rows) == TOP_K
    got_ids = [r.vec_id for r in rows]
    assert QUERY_VEC_ID not in got_ids
    for r in rows:
        exact = sum((a - b) * (a - b) for a, b in zip(vecs[r.vec_id], q))
        assert r.exact_dist == exact
    # the output is sorted by (exact_dist, vec_id); ADC itself may
    # over- or under-shoot the exact distance (it scores against
    # centroids), so only the exact lane's ordering is asserted
    dists = [(r.exact_dist, r.vec_id) for r in rows]
    assert dists == sorted(dists)
    assert len(set(got_ids)) == TOP_K and ANN_SHORTLIST >= TOP_K


def test_entropy_score_matches_python_recompute(spark, sf_dir):
    # per-doc entropy recomputed term-by-term with the same
    # micro-quantization; uniform-ish docs must score higher than
    # repetitive ones (sanity on the signal's direction)
    import math
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_entropy_score,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {r.doc_id: r for r in q_entropy_score(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        c = Counter(text.split(" "))
        n = sum(c.values())
        s = sum(
            round(float(ci) * math.log2(float(n) / float(ci)) * 1_000_000)
            for ci in c.values()
        )
        r = got[doc_id]
        assert (r.n_words, r.n_distinct) == (n, len(c))
        assert r.entropy == ((2 * s + n) // (2 * n)) / 1e6


def test_content_chunks_matches_python_recompute(spark, sf_dir):
    # boundary placement, chunk reassembly, and the edit-stability
    # property recomputed in pure python; chunks must partition every
    # document's token stream in order
    import hashlib
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        CDC_DIVISOR,
        q_content_chunks,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    exp = defaultdict(dict)  # doc_id -> chunk_id -> text
    fp_count = Counter()
    for doc_id, text in docs.items():
        cid = 0
        cur = []
        for tok in text.split(" "):
            cur.append(tok)
            h = int(hashlib.md5(tok.encode()).hexdigest()[0], 16)
            if h % CDC_DIVISOR == 0:  # this token closes the chunk
                exp[doc_id][cid] = " ".join(cur)
                cid += 1
                cur = []
        if cur:
            exp[doc_id][cid] = " ".join(cur)
        for t in exp[doc_id].values():
            fp_count[hashlib.md5(t.encode()).hexdigest()] += 1

    rows = q_content_chunks(spark, sf_dir).collect()
    got = defaultdict(dict)
    for r in rows:
        got[r.doc_id][r.chunk_id] = r
    assert {d: set(c) for d, c in got.items()} == {
        d: set(c) for d, c in exp.items()
    }
    for doc_id, chunks in exp.items():
        for cid, text in chunks.items():
            r = got[doc_id][cid]
            fp = hashlib.md5(text.encode()).hexdigest()
            assert r.n_tokens == len(text.split(" "))
            assert r.fingerprint == fp
            assert r.n_copies == fp_count[fp]


def test_content_chunks_are_edit_stable(spark, tmp_path):
    # the content-defined property itself: prepending tokens to a
    # document changes ONLY the first chunk's fingerprint lineage —
    # all chunks after the first boundary keep their fingerprints
    # (fixed-width chunking would shift every one)
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_content_chunks,
    )

    base = "key agg row scan slow fast table value part hash merge batch " \
           "spark order data column join small line customer query big"
    edited = "zzz " + base
    spark.createDataFrame(
        [(0, base, "en"), (1, edited, "en")],
        "doc_id long, text string, lang string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rows = q_content_chunks(spark, str(tmp_path)).collect()
    fps = {0: set(), 1: set()}
    for r in rows:
        fps[r.doc_id].add(r.fingerprint)
    shared = fps[0] & fps[1]
    # everything after the first boundary is identical content ->
    # shared fingerprints; only the head chunk differs
    assert len(shared) >= len(fps[0]) - 1
    assert any(r.n_copies == 2 for r in rows)


def test_word_filter_matches_python_recompute(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        WORD_BLOCKLIST,
        q_word_filter,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {r.doc_id: r for r in q_word_filter(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    kept = dropped = 0
    for doc_id, text in docs.items():
        toks = text.split(" ")
        flagged = [t for t in toks if t in WORD_BLOCKLIST]
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_flagged == len(flagged)
        assert r.n_distinct_flagged == len(set(flagged))
        assert r.flag_rate == (
            (2 * len(flagged) * 1_000_000 + len(toks)) // (2 * len(toks))
        ) / 1e6
        assert r.keep == (not flagged)
        kept += r.keep
        dropped += not r.keep
    assert kept and dropped  # the gate's both lanes are exercised


def test_dsir_weights_match_pure_python_recompute(spark, sf_dir):
    # independent (non-SQL) ground truth: recompute the hashed-bucket
    # target/raw log-ratios and every per-doc weight in pure Python —
    # pins the md5-mod bucket hash, the add-one smoothing, the single
    # collapsed log2, and the exact int64 per-doc sums
    import hashlib
    import math
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        DSIR_BUCKETS,
        q_dsir_weights,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = {
        r.doc_id: (r.lang, r.text.split(" "))
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def bucket(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[:6], 16) % DSIR_BUCKETS

    raw, tgt = Counter(), Counter()
    doc_buckets = defaultdict(list)
    for doc_id, (lang, toks) in docs.items():
        for w in toks:
            b = bucket(w)
            doc_buckets[doc_id].append(b)
            raw[b] += 1
            if lang == "en":
                tgt[b] += 1
    n_raw, n_tgt = sum(raw.values()), sum(tgt.values())
    lam = {
        b: round(
            math.log2(
                ((tgt[b] + 1) * (n_raw + DSIR_BUCKETS))
                / ((raw[b] + 1) * (n_tgt + DSIR_BUCKETS))
            )
            * 1_000_000
        )
        for b in raw
    }

    got = {r.doc_id: r for r in q_dsir_weights(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    any_keep = any_drop = False
    for doc_id, buckets in doc_buckets.items():
        s = sum(lam[b] for b in buckets)
        r = got[doc_id]
        assert r.n_tokens == len(buckets)
        assert r.micro_logratio == s
        assert r.avg_logratio == s / len(buckets) / 1_000_000.0
        assert r.keep == (s > 0)
        any_keep |= r.keep
        any_drop |= not r.keep
    assert any_keep and any_drop  # both selection lanes exercised


def test_token_budget_select_matches_pure_python_recompute(spark, sf_dir):
    # the two-phase bucket+carry prefix sum must equal a pure-Python
    # single-pass cumsum over the global (score DESC, doc_id) order —
    # pins the fixed-point score, the bucket decomposition, and the
    # budget cut
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BUDGET_DENOM,
        q_token_budget_select,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = []
    for r in load_table(spark, sf_dir, "documents").collect():
        toks = r.text.split(" ")
        t, dw = len(toks), len(set(toks))
        docs.append((r.doc_id, t, (2 * dw * 1_000_000 + t) // (2 * t)))
    docs.sort(key=lambda x: (-x[2], x[0]))
    n_total = sum(t for _, t, _ in docs)
    budget = n_total // BUDGET_DENOM
    expected, cum = {}, 0
    for doc_id, t, micro in docs:
        cum += t
        expected[doc_id] = (t, micro, cum, cum <= budget)

    got = {r.doc_id: r for r in q_token_budget_select(spark, sf_dir).collect()}
    assert set(got) == set(expected)
    for doc_id, (t, micro, cum, sel) in expected.items():
        r = got[doc_id]
        assert (r.n_tokens, r.micro_score, r.cum_tokens, r.selected) == (
            t,
            micro,
            cum,
            sel,
        )
    n_sel = sum(1 for *_, s in expected.values() if s)
    assert 0 < n_sel < len(expected)  # the budget cut lands mid-corpus


def test_corr_pearson_matches_pure_python_recompute(spark, sf_dir):
    # exact sufficient statistics and the pinned IEEE op sequence
    # recomputed in pure Python (int arithmetic is arbitrary-precision,
    # so the combinations are exact like the engine's decimal sums)
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_corr_pearson,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    acc = defaultdict(lambda: [0, 0, 0, 0, 0, 0])  # n sx sy sxy sxx syy
    for r in load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect():
        x = int(r.l_quantity)
        y = int(
            (Decimal(repr(r.l_extendedprice)).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            ))
            * 100
        )
        a = acc[r.l_returnflag]
        a[0] += 1
        a[1] += x
        a[2] += y
        a[3] += x * y
        a[4] += x * x
        a[5] += y * y

    got = {r.l_returnflag: r for r in q_corr_pearson(spark, sf_dir).collect()}
    assert set(got) == set(acc)
    for flag, (n, sx, sy, sxy, sxx, syy) in acc.items():
        r = got[flag]
        assert (r.n, r.sx, r.sy, r.sxy) == (n, sx, sy, sxy)
        expect = (
            round(
                float(n * sxy - sx * sy)
                / math.sqrt(float(n * sxx - sx * sx) * float(n * syy - sy * sy))
                * 1_000_000
            )
            / 1e6
        )
        assert r.corr_qty_price == expect


def test_corr_pearson_zero_variance_group_is_null_on_both_engines(
    spark, tmp_path
):
    # ADVICE r7: an all-equal group makes var_x*var_y = 0; before the
    # guard, Spark nulled the Inf via round+cast while DuckDB's
    # CAST(ROUND(inf) AS BIGINT) RAISED, crashing the oracle run.
    # Both engines must return NULL for the degenerate group and the
    # exact statistic for the healthy one.
    import duckdb

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        SQL_CORR_PEARSON,
        q_corr_pearson,
    )

    rows = [
        # zero-variance group: constant quantity AND constant price
        ("Z", 5.0, 100.00),
        ("Z", 5.0, 100.00),
        ("Z", 5.0, 100.00),
        # healthy group: perfectly correlated → corr 1.0
        ("A", 1.0, 10.00),
        ("A", 2.0, 20.00),
        ("A", 3.0, 30.00),
    ]
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r.l_returnflag: r.corr_qty_price
        for r in q_corr_pearson(spark, str(tmp_path)).collect()
    }
    assert got["Z"] is None
    assert got["A"] == 1.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"parquet_scan('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    oracle = {
        flag: corr
        for flag, *_mid, corr in con.execute(SQL_CORR_PEARSON).fetchall()
    }
    assert oracle["Z"] is None  # raised before the CASE guard
    assert oracle["A"] == 1.0


def test_media_sample_frames_decodes_real_animation(spark):
    # the binary frame-sampling lane: a codec-built 5-frame GIF,
    # sampled every 2nd frame distributed, must yield frames 0/2/4
    # with EXACT channel sums and md5s computed from the same decode
    # locally; a poison payload costs one ok=false row
    import hashlib

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_sample_frames,
    )

    rng = np.random.default_rng(4)
    pal = rng.integers(0, 256, (6, 3)).astype(np.uint8)
    frames = [pal[rng.integers(0, 6, (9, 12))] for _ in range(5)]
    payload = encode_gif(frames)
    rows = [
        (1, "video", bytearray(payload), "image/gif", 12, 9, None),
        (2, "video", bytearray(b"GIF89a garbage"), "image/gif", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = media_sample_frames(media, every_k=2).collect()

    good = sorted(
        (r for r in got if r.media_id == 1), key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in good] == [0, 2, 4]
    composited = decode_gif(payload)["frames"]
    for r in good:
        fr = composited[r.frame_idx]
        s = fr.reshape(-1, 3).astype(np.int64).sum(axis=0)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(s)
        assert r.frame_md5 == hashlib.md5(fr.tobytes()).hexdigest()
        assert r.ok and (r.width, r.height) == (12, 9)

    bad = [r for r in got if r.media_id == 2]
    assert len(bad) == 1 and not bad[0].ok and bad[0].err


def test_media_sample_frames_decodes_real_mjpeg_avi(spark):
    # r8: a true VIDEO container on a real pixel path — an MJPEG AVI
    # whose '00dc' chunks are from-spec-encoded JPEGs, frame-sampled
    # distributed; sums/md5s must equal decoding the same chunks
    # locally, and a frameless AVI costs one ok=false row
    import hashlib

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.avi import (
        build_mjpeg_avi,
    )
    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_decode,
        media_probe,
        media_sample_frames,
    )

    rng = np.random.default_rng(11)
    imgs = [
        rng.integers(0, 256, (10, 14, 3)).astype(np.uint8) for _ in range(5)
    ]
    chunks = [encode_jpeg(im, quality=92) for im in imgs]
    avi = build_mjpeg_avi(chunks, 14, 10, fps=4)
    empty_avi = build_mjpeg_avi([], 14, 10, fps=4)

    rows = [
        (1, "video", bytearray(avi), "video/avi", 14, 10, None),
        (2, "video", bytearray(empty_avi), "video/avi", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    got = sorted(
        (r for r in media_sample_frames(media, every_k=2).collect()
         if r.media_id == 1),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in got] == [0, 2, 4]
    for r in got:
        fr = decode_jpeg(chunks[r.frame_idx])
        s = fr.reshape(-1, 3).astype(np.int64).sum(axis=0)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(s)
        assert r.frame_md5 == hashlib.md5(fr.tobytes()).hexdigest()
        assert r.ok and (r.width, r.height) == (14, 10)
    bad = [
        r for r in media_sample_frames(media, every_k=2).collect()
        if r.media_id == 2
    ]
    assert len(bad) == 1 and not bad[0].ok and "no video frame" in bad[0].err

    # probe: header-only dims / duration / codec
    p = {r.media_id: r for r in media_probe(media).collect()}[1]
    assert (p.container, p.video_codec) == ("avi", "MJPG")
    assert (p.width, p.height) == (14, 10)
    assert p.duration_sec == 1.25  # 5 frames at 4 fps
    # decode_media: first-frame features + frame count
    d = {r.media_id: r for r in media_decode(media).collect()}[1]
    first = decode_jpeg(chunks[0]).reshape(-1, 3).astype(np.int64).sum(axis=0)
    assert d.ok and (d.width, d.height, d.n_frames) == (14, 10, 5)
    assert (d.sum_r, d.sum_g, d.sum_b) == tuple(first)


def test_media_probe_extracts_container_metadata_distributed(spark):
    # the no-codec half of video handling: ISO-BMFF box metadata
    # (duration, resolution, codecs) probed distributed so corpus
    # filters run long before any H.264 decode; poison → one row
    from data_ingestion_s3_to_parquet_spark.functions.mp4 import (
        build_minimal_mp4,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_probe,
    )

    clip = build_minimal_mp4(
        brand=b"mp42",
        timescale=600,
        duration=1500,
        tracks=[
            {"handler": b"vide", "width": 1280, "height": 720, "codec": b"avc1"},
            {"handler": b"soun", "codec": b"mp4a"},
        ],
    )
    from data_ingestion_s3_to_parquet_spark.functions.mp3 import (
        build_mp3_frames,
    )

    song = build_mp3_frames(n_frames=38, kbps_pattern=(128, 192), sr=44100)
    rows = [
        (1, "video", bytearray(clip), "video/mp4", 1280, 720, None),
        (2, "video", bytearray(b"\x00\x00\x00\x08ftyp"), "video/mp4",
         None, None, None),
        (3, "audio", bytearray(song), "audio/mpeg", None, None, 44100),
    ]
    got = {
        r.media_id: r
        for r in media_probe(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    c = got[1]
    assert c.ok and c.container == "mp42"
    assert c.duration_sec == 2.5
    assert (c.video_codec, c.audio_codec) == ("avc1", "mp4a")
    assert (c.width, c.height, c.n_tracks) == (1280, 720, 2)
    assert not got[2].ok and got[2].err
    a = got[3]
    assert a.ok and a.container == "mp3" and a.audio_codec == "mp3"
    assert a.duration_sec == round(38 * 1152 / 44100, 3)


def _py_winnow(text: str):
    """Reference winnowing (Schleimer et al. §4, robust variant off):
    every complete window's rightmost-minimum k-gram hash."""
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        WINNOW_GRAM_N,
        WINNOW_W,
        _FP_HEX,
    )

    t = text.split(" ")
    grams = [
        " ".join(t[i : i + WINNOW_GRAM_N])
        for i in range(len(t) - WINNOW_GRAM_N + 1)
    ]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:_FP_HEX], 16) for g in grams
    ]
    m = len(hs)
    sel = set()
    if not m:
        return sel
    w = min(WINNOW_W, m)
    for t0 in range(m - w + 1):
        win = hs[t0 : t0 + w]
        mn = min(win)
        # rightmost occurrence of the min in this window
        pos = t0 + max(j for j, h in enumerate(win) if h == mn)
        sel.add((pos + 1, hs[pos]))
    return sel


def test_doc_winnow_matches_python_reference(spark, sf_dir):
    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        q_doc_winnow,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    want = {
        (r.doc_id, p, h)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
        for (p, h) in _py_winnow(r.text)
    }
    got = {
        (r.doc_id, r.fp_pos, r.fp)
        for r in q_doc_winnow(spark, sf_dir).collect()
    }
    assert got == want


def test_winnow_guarantee_shared_span_always_collides(spark):
    # winnowing's point: ANY shared run of >= W + N - 1 words yields at
    # least one identical selected fingerprint in both documents —
    # plant a 6-word span inside otherwise-disjoint text and check the
    # fingerprint join finds it
    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        winnow_fingerprints,
    )

    span = "the quick brown fox jumps high"
    rows = [
        (1, "alpha beta gamma " + span + " delta epsilon"),
        (2, "one two three four " + span + " five six seven"),
        (3, "totally unrelated words only here nothing shared at all"),
    ]
    fps = winnow_fingerprints(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-word span must collide"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_inverted_index_matches_python_recompute(spark, sf_dir):
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        POSTINGS_CAP,
        q_inverted_index,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    tf = Counter()
    docs = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    ):
        for w in r.text.split(" "):
            tf[w] += 1
            docs[w].add(r.doc_id)
    want = {
        (
            t,
            len(docs[t]),
            tf[t],
            ",".join(str(d) for d in sorted(docs[t])[:POSTINGS_CAP]),
        )
        for t in tf
    }
    got = {
        (r.term, r.df, r.tf, r.postings)
        for r in q_inverted_index(spark, sf_dir).collect()
    }
    assert got == want


def test_changepoint_cusum_finds_planted_level_shift(spark):
    # 9 orders at ~$100, then 6 at ~$900: the max scaled CUSUM
    # deviation must land exactly on the boundary (split after i=9);
    # a flat customer still reports its (tiny) max with earliest-tie
    from datetime import datetime

    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        cusum_changepoints,
    )

    rows = [
        (1, k, datetime(2024, 1, k), 10_000 + (k % 3))
        for k in range(1, 10)
    ] + [
        (1, k, datetime(2024, 1, k), 90_000 + (k % 3))
        for k in range(10, 16)
    ] + [
        (2, k, datetime(2024, 2, k), 5_000) for k in range(1, 5)
    ]
    out = {
        r.o_custkey: r
        for r in cusum_changepoints(
            spark.createDataFrame(
                rows,
                "o_custkey long, o_orderkey long, o_orderdate timestamp, cents long",
            )
        ).collect()
    }
    assert out[1].split_pos == 9 and out[1].n_orders == 15
    # flat series: every deviation is the same tiny residue pattern;
    # the tie rule picks the earliest split deterministically
    assert out[2].n_orders == 4 and out[2].split_pos >= 1
    # exactness: dev for the planted customer equals the closed form
    s = [10_000 + (k % 3) for k in range(1, 10)] + [
        90_000 + (k % 3) for k in range(10, 16)
    ]
    tot = sum(s)
    best = max(
        abs(len(s) * sum(s[:i]) - i * tot) for i in range(1, len(s))
    )
    assert out[1].dev == best


def test_link_predict_matches_python_recompute(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        LP_TOP,
        q_link_predict,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_knn_graph,
    )

    adj = defaultdict(set)
    for r in q_knn_graph(spark, sf_dir).select("src", "dst").collect():
        if r.src != r.dst:
            adj[r.src].add(r.dst)
            adj[r.dst].add(r.src)
    cand = {}
    for x, nbrs in adj.items():
        ns = sorted(nbrs)
        for i, a in enumerate(ns):
            for b in ns[i + 1 :]:
                if b not in adj[a]:
                    cand[(a, b)] = cand.get((a, b), 0) + 1
    ranked = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[:LP_TOP]
    want = [
        (a, b, cn, len(adj[a]) + len(adj[b]) - cn)
        for (a, b), cn in ranked
    ]
    got = [
        (r.a, r.b, r.cn, r.union_deg)
        for r in q_link_predict(spark, sf_dir).collect()
    ]
    assert got == want


def test_kcore_matches_python_peel_to_convergence(spark, sf_dir):
    # the Python reference peels to TRUE convergence (no round cap),
    # so this also proves KCORE_ROUNDS is a converged unroll on the
    # fixture, not a truncation
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        KCORE_K,
        KCORE_SUPPORT,
        q_kcore_decompose,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    per_order = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        per_order[r.l_orderkey].add(r.l_partkey)
    support = defaultdict(int)
    for parts in per_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                support[(a, b)] += 1
    adj = defaultdict(set)
    for (a, b), s in support.items():
        if s >= KCORE_SUPPORT:
            adj[a].add(b)
            adj[b].add(a)
    alive = set(adj)
    while True:
        nxt = {v for v in alive if sum(1 for u in adj[v] if u in alive) >= KCORE_K}
        if nxt == alive:
            break
        alive = nxt
    want = {
        (v, sum(1 for u in adj[v] if u in alive)) for v in alive
    }
    got = {(r.node, r.deg) for r in q_kcore_decompose(spark, sf_dir).collect()}
    assert got == want


def test_media_phash_distributed_with_poison_row(spark):
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        build_test_bmp,
        dhash64,
        seeded_test_image,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_phash,
    )

    img = seeded_test_image(3)
    rows = [
        (1, "image", bytearray(build_test_bmp(img)), "image/bmp", 16, 12, None),
        (2, "image", bytearray(b"\x00garbage"), "image/bmp", None, None, None),
    ]
    got = {
        r.media_id: r
        for r in media_phash(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert got[1].ok and got[1].phash == dhash64(img)
    assert not got[2].ok and got[2].err and got[2].phash is None


def test_media_phash_stays_exact_beside_poison_rows_in_one_batch(spark):
    # a poison row's NULL hash in the same Arrow batch must not widen
    # the batch's hash column to float64, which rounds away low bits
    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        build_test_bmp,
        dhash64,
        seeded_test_image,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_phash,
    )

    imgs = [seeded_test_image(s, h=10, w=13) for s in range(1, 4)]
    rows = [
        (i, "image", bytearray(build_test_bmp(img)), None, None, None, None)
        for i, img in enumerate(imgs, start=1)
    ] + [(9, "image", bytearray(b"\x00garbage"), None, None, None, None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1)
    got = {r.media_id: r.phash for r in media_phash(media).collect()}
    assert got == {
        **{i: dhash64(img) for i, img in enumerate(imgs, start=1)},
        9: None,
    }


def test_media_phash_query_links_exactly_the_planted_near_dups(spark, sf_dir):
    # seeds plant PHASH_VARIANTS near-dup variants per base image: the
    # banded Hamming join over group representatives must link ALL
    # same-seed variant pairs (recall 1.0 on the plant) and NO
    # cross-seed pair (measured cross-seed min distance ~25 >> T)
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        PHASH_SEEDS,
        q_media_phash,
    )

    rows = q_media_phash(spark, sf_dir).collect()
    assert rows, "planted variants must produce near-dup links"
    for r in rows:
        assert r.canon_a % PHASH_SEEDS == r.canon_b % PHASH_SEEDS
        assert r.n_a >= 1 and r.n_b >= 1 and r.hamming <= 6
    # every seed with >1 distinct variant hash present links at least
    # one pair (variants are 1-2 bits away — far under the threshold)
    linked_seeds = {r.canon_a % PHASH_SEEDS for r in rows}
    assert len(linked_seeds) >= PHASH_SEEDS // 2


def test_copurchase_edge_artifact_matches_rebuild(spark, sf_dir):
    # the persisted support-filtered co-purchase edge table feeding
    # kcore_decompose must equal a fresh in-query build (same
    # cache-equals-rebuild contract as the knn/cosine edge artifacts)
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        KCORE_SUPPORT,
        _copurchase_edges,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    per_order = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        per_order[r.l_orderkey].add(r.l_partkey)
    support = defaultdict(int)
    for parts in per_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                support[(a, b)] += 1
    fresh = {p for p, s in support.items() if s >= KCORE_SUPPORT}
    cached = {(r.a, r.b) for r in _copurchase_edges(spark, sf_dir).collect()}
    assert cached == fresh


def test_media_exif_probe_and_scrub_distributed(spark):
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.exif import (
        attach_app1,
        build_exif_app1,
        probe_exif,
    )
    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        seeded_test_image,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_exif,
    )

    jp = encode_jpeg(seeded_test_image(5, 0, 16, 16), quality=85)
    tagged = attach_app1(jp, build_exif_app1())
    rows = [
        (1, "image", bytearray(tagged), "image/jpeg", 16, 16, None),
        (2, "image", bytearray(jp), "image/jpeg", 16, 16, None),
        (3, "image", bytearray(b"nope"), None, None, None, None),
    ]
    got = {
        r.media_id: r
        for r in media_exif(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    r1 = got[1]
    assert r1.ok and r1.has_exif and r1.has_gps
    assert r1.gps_lat_udeg == 37774899 and r1.gps_lon_udeg == -122419399
    assert (r1.make, r1.model, r1.orientation) == ("CamCo", "X100", 6)
    clean = probe_exif(bytes(r1.scrubbed))
    assert not clean["has_gps"] and clean["orientation"] == 6
    # pixels identical through the scrub
    assert np.array_equal(decode_jpeg(bytes(r1.scrubbed)), decode_jpeg(tagged))
    # EXIF-less JPEG: ok, nothing reported, payload unchanged
    assert got[2].ok and not got[2].has_exif and bytes(got[2].scrubbed) == jp
    # poison row
    assert not got[3].ok and got[3].err


def test_winnow_overlap_matches_python_recompute(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        OVERLAP_FP_MAX_DF,
        OVERLAP_MIN_SHARED,
        q_winnow_overlap,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    per_doc = {}
    for r in (
        load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    ):
        per_doc[r.doc_id] = {h for _, h in _py_winnow(r.text)}
    df = defaultdict(int)
    for fps in per_doc.values():
        for h in fps:
            df[h] += 1
    live = {h for h, n in df.items() if n <= OVERLAP_FP_MAX_DF}
    docs = sorted(per_doc)
    want = set()
    by_fp = defaultdict(list)
    for d in docs:
        for h in per_doc[d] & live:
            by_fp[h].append(d)
    shared = defaultdict(int)
    for h, ds in by_fp.items():
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                shared[(a, b)] += 1
    for (a, b), n in shared.items():
        if n >= OVERLAP_MIN_SHARED:
            want.add((a, b, n, len(per_doc[a]), len(per_doc[b])))
    got = {
        (r.doc_a, r.doc_b, r.n_shared, r.n_a, r.n_b)
        for r in q_winnow_overlap(spark, sf_dir).collect()
    }
    assert got == want


def test_media_probe_covers_all_header_only_formats(spark):
    # the cheap corpus-filter path: dims/duration for every container
    # the repo knows, from HEADERS only (no pixel/sample decode)
    import struct

    from data_ingestion_s3_to_parquet_spark.functions.gif import encode_gif
    from data_ingestion_s3_to_parquet_spark.functions.jpeg import encode_jpeg
    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        build_test_bmp,
        seeded_test_image,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_probe,
    )

    img = seeded_test_image(9, 0, 10, 12)
    gif = encode_gif([img, seeded_test_image(8, 0, 10, 12)], delays_cs=[10, 25])
    # minimal PCM WAV: stdlib round-trip
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x00" * 2 * 4000)  # 0.5 s stereo
    wav = buf.getvalue()
    png_sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">II", 12, 10) + bytes([8, 2, 0, 0, 0])
    png = png_sig + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4

    from data_ingestion_s3_to_parquet_spark.functions.flac import (
        build_flac_streaminfo,
    )
    from data_ingestion_s3_to_parquet_spark.functions.qoi import build_qoi
    from data_ingestion_s3_to_parquet_spark.functions.tiff import encode_tiff

    from data_ingestion_s3_to_parquet_spark.functions.ogg import (
        build_ogg_opus,
    )

    flac = build_flac_streaminfo(
        sample_rate=16000, channels=1, bits=16, total_samples=48000
    )
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.aiff import build_aiff

    aiff = build_aiff(
        np.zeros(4000, dtype=np.int16), sample_rate=8000, n_channels=2
    )
    from data_ingestion_s3_to_parquet_spark.functions.au import build_au

    au = build_au(np.zeros(4000, dtype=np.int16), sample_rate=16000)
    opus = build_ogg_opus(channels=2, input_rate=24000, n_samples_48k=120000)
    rows = [
        (1, "image", bytearray(build_test_bmp(img)), None, None, None, None),
        (2, "image", bytearray(png), None, None, None, None),
        (3, "image", bytearray(gif), None, None, None, None),
        (4, "audio", bytearray(wav), None, None, None, None),
        (5, "image", bytearray(encode_jpeg(img)), None, None, None, None),
        (6, "image", bytearray(encode_tiff(img, byte_order=">")), None, None,
         None, None),
        (7, "audio", bytearray(flac), None, None, None, None),
        (8, "audio", bytearray(opus), None, None, None, None),
        (9, "image", bytearray(build_qoi(img)), None, None, None, None),
        (10, "audio", bytearray(aiff), None, None, None, None),
        (11, "audio", bytearray(au), None, None, None, None),
    ]
    got = {
        r.media_id: r
        for r in media_probe(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert (got[1].container, got[1].width, got[1].height) == ("bmp", 12, 10)
    assert (got[2].container, got[2].width, got[2].height) == ("png", 12, 10)
    g = got[3]
    assert (g.container, g.width, g.height, g.n_tracks) == ("gif", 12, 10, 2)
    assert g.duration_sec == 0.35
    w = got[4]
    assert (w.container, w.audio_codec, w.n_tracks) == ("wav", "pcm", 2)
    assert w.duration_sec == 0.5
    assert (got[5].container, got[5].width, got[5].height) == ("jpeg", 12, 10)
    assert (got[6].container, got[6].width, got[6].height) == ("tiff", 12, 10)
    f = got[7]
    assert (f.container, f.audio_codec, f.n_tracks) == ("flac", "flac", 1)
    assert f.duration_sec == 3.0  # 48000 samples at 16 kHz
    o = got[8]
    assert (o.container, o.audio_codec, o.n_tracks) == ("ogg", "opus", 2)
    assert o.duration_sec == 2.5  # 120000 48-kHz granules
    assert (got[9].container, got[9].width, got[9].height) == ("qoi", 12, 10)
    a = got[10]
    assert (a.container, a.audio_codec, a.n_tracks) == ("aiff", "pcm", 2)
    assert a.duration_sec == 0.25  # 2000 frames at 8 kHz
    u = got[11]
    assert (u.container, u.audio_codec, u.n_tracks) == ("au", "pcm16", 1)
    assert u.duration_sec == 0.25  # 4000 frames at 16 kHz


def _media_corpus() -> list[tuple]:
    """MEDIA_SCHEMA rows: one payload per format the media operators
    know, built with the repo's own encoders, plus poison payloads."""
    import io
    import struct
    import wave
    import zlib

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.adpcm import build_adpcm_wav
    from data_ingestion_s3_to_parquet_spark.functions.aiff import (
        _encode_extended80,
        build_aiff,
    )
    from data_ingestion_s3_to_parquet_spark.functions.au import build_au
    from data_ingestion_s3_to_parquet_spark.functions.avi import build_mjpeg_avi
    from data_ingestion_s3_to_parquet_spark.functions.ebml import build_test_webm
    from data_ingestion_s3_to_parquet_spark.functions.exif import (
        attach_app1,
        build_exif_app1,
    )
    from data_ingestion_s3_to_parquet_spark.functions.flac import (
        build_flac_streaminfo,
    )
    from data_ingestion_s3_to_parquet_spark.functions.g711 import build_g711_wav
    from data_ingestion_s3_to_parquet_spark.functions.gif import encode_gif
    from data_ingestion_s3_to_parquet_spark.functions.jpeg import encode_jpeg
    from data_ingestion_s3_to_parquet_spark.functions.mp3 import build_mp3_frames
    from data_ingestion_s3_to_parquet_spark.functions.mp4 import build_minimal_mp4
    from data_ingestion_s3_to_parquet_spark.functions.ogg import build_ogg_opus
    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        build_png,
        build_test_bmp,
        seeded_test_image,
    )
    from data_ingestion_s3_to_parquet_spark.functions.qoi import build_qoi
    from data_ingestion_s3_to_parquet_spark.functions.tiff import encode_tiff
    from data_ingestion_s3_to_parquet_spark.functions.webp import build_test_webp

    rng = np.random.default_rng(9)
    img = seeded_test_image(1, h=10, w=13)

    def png(px, color):  # unfiltered 8-bit PNG of any color type
        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body))
            )

        h, w = px.shape[:2]
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def pcm_wav(x, n_ch):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(n_ch)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(x.astype("<i2").tobytes())
        return buf.getvalue()

    pal = rng.integers(0, 256, (5, 3)).astype(np.uint8)
    gif_frames = [pal[rng.integers(0, 5, (7, 9))] for _ in range(3)]
    jpegs = [encode_jpeg(seeded_test_image(s, h=8, w=11), quality=90) for s in (4, 5, 6)]
    tone = (9000 * np.sin(np.arange(1010) / 7.0)).astype(np.int16)
    comm = struct.pack(">HIH", 1, 4, 16) + _encode_extended80(8000.0) + b"ima4\x00"
    aifc_body = b"COMM" + struct.pack(">I", len(comm)) + comm + b"\x00"
    payloads = [
        ("image", build_test_bmp(img)),
        ("image", build_png(img)),
        ("image", png(rng.integers(0, 256, (6, 7, 1), dtype=np.uint8), 0)),
        ("image", png(rng.integers(0, 256, (5, 4, 4), dtype=np.uint8), 6)),
        ("image", jpegs[0]),
        ("image", attach_app1(jpegs[1], build_exif_app1())),
        ("video", encode_gif(gif_frames, delays_cs=[5, 10, 15])),
        ("image", encode_tiff(img)),
        ("image", build_qoi(img)),
        ("video", build_mjpeg_avi(jpegs, 11, 8, fps=4)),
        ("audio", pcm_wav(tone, 1)),
        ("audio", build_g711_wav(tone, law="ulaw", sample_rate=8000)),
        ("audio", build_adpcm_wav(tone, sample_rate=8000, block_align=256)),
        ("audio", build_aiff(tone[:600], sample_rate=11025)),
        ("audio", build_au(tone[:700], sample_rate=8000)),
        (
            "video",
            build_minimal_mp4(
                tracks=[
                    {"handler": b"vide", "width": 640, "height": 360, "codec": b"avc1"},
                    {"handler": b"soun", "codec": b"mp4a"},
                ]
            ),
        ),
        ("audio", build_mp3_frames(n_frames=6)),
        ("image", build_test_webp(width=33, height=17)),
        ("video", build_test_webm()),
        ("audio", build_flac_streaminfo()),
        ("audio", build_ogg_opus()),
        # poison payloads
        ("image", b""),
        ("image", build_png(img)[:40]),
        ("image", b"\x00\x01\x02\x03 unknown magic"),
        ("image", b"GIF8 garbage, not a GIF"),
        ("audio", pcm_wav(tone[:400], 2)),
        ("audio", b"FORM" + struct.pack(">I", 4 + len(aifc_body)) + b"AIFC" + aifc_body),
    ]
    return [
        (i, kind, bytearray(p), None, None, None, None)
        for i, (kind, p) in enumerate(payloads, start=1)
    ]


def _media_digests(spark) -> dict:
    """Row count and sha256 of the sorted collected rows of each of the
    seven per-payload media operators over :func:`_media_corpus`."""
    import hashlib
    import json

    from data_ingestion_s3_to_parquet_spark.operators import multimodal as mm

    media = spark.createDataFrame(_media_corpus(), MEDIA_SCHEMA)
    out = {}
    for op in (
        mm.media_decode,
        mm.media_sample_frames,
        mm.media_probe,
        mm.media_audio_frames,
        mm.media_resize,
        mm.media_phash,
        mm.media_exif,
    ):
        rows = sorted(
            json.dumps(list(r), default=lambda b: bytes(b).hex())
            for r in op(media).collect()
        )
        out[op.__name__] = {
            "rows": len(rows),
            "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
        }
    return out


def test_media_operators_match_golden(spark):
    # tests/golden/media.json pins every output bit of the seven
    # per-payload media operators over one payload per format plus the
    # poison rows (empty, truncated, unknown magic, GIF8 garbage, a
    # stereo WAV media_audio_frames refuses, compressed AIFC).
    import json
    from pathlib import Path

    golden = json.loads((Path(__file__).parent / "golden" / "media.json").read_text())
    assert _media_digests(spark) == golden


def test_rank_bm25_matches_pure_python_recompute(spark, sf_dir):
    # exact sufficient statistics (tf, df, dl, N, total_len) and the
    # pinned IEEE op sequence recomputed in pure Python — arbitrary-
    # precision ints for the stats, the same double formula for the
    # score, including the micro-quantization and the tie-break order
    import math
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        BM25_TERMS,
        BM25_TOPK,
        q_rank_bm25,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    n_docs = len(docs)
    total_len = sum(len(t) for t in docs.values())
    tf = defaultdict(Counter)
    for d, toks in docs.items():
        for w in toks:
            if w in BM25_TERMS:
                tf[d][w] += 1
    df = Counter(w for d in tf for w in tf[d])

    scored = {}
    for d, terms in tf.items():
        dl = len(docs[d])
        micro = 0
        for w, f in terms.items():
            idf = math.log(
                1.0 + (float(n_docs - df[w]) + 0.5) / (float(df[w]) + 0.5)
            )
            tfn = (float(f) * 2.2) / (
                float(f)
                + 1.2
                * (0.25 + 0.75 * (float(dl) * float(n_docs) / float(total_len)))
            )
            v = idf * tfn * 1_000_000
            # round-half-up like both engines' ROUND(x, 0) on positives
            micro += int(math.floor(v + 0.5))
        scored[d] = (len(terms), micro)
    expect = sorted(scored.items(), key=lambda kv: (-kv[1][1], kv[0]))[
        :BM25_TOPK
    ]

    got = q_rank_bm25(spark, sf_dir).collect()
    assert [r.rank for r in got] == list(range(1, len(expect) + 1))
    for r, (d, (nh, micro)) in zip(got, expect):
        assert (r.doc_id, r.n_hit_terms) == (d, nh)
        assert r.score == micro / 1e6
    # the rare term must dominate: every doc containing it outranks
    # every doc that only hits common terms (IDF spread sanity)
    rare_docs = {d for d in tf if "dup" in tf[d]}
    if rare_docs and len(rare_docs) < BM25_TOPK:
        top_rare = [r.doc_id for r in got[: len(rare_docs)]]
        assert set(top_rare) <= rare_docs


def test_ewma_smooth_matches_pure_python_recompute(spark, sf_dir):
    # the truncated-EWMA weights, the cents quantization, and the
    # half-up integer division recomputed per event in pure Python
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        EWMA_COEFS,
        EWMA_DEPTH,
        q_ewma_smooth,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "value")
        .collect()
    )
    streams = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        v = r.value * 100
        cents = None if r.value is None else int(
            v + 0.5 if v >= 0 else -(int(-v + 0.5))
        )
        streams[r.user_id].append((r.event_id, cents))

    expect = {}
    for u, evs in streams.items():
        hist = []
        for eid, cents in evs:
            hist.append(cents)
            window = hist[-EWMA_DEPTH:][::-1]  # lag 0 first
            s = wsum = n = 0
            for lagv, c in zip(window, EWMA_COEFS):
                if lagv is not None:
                    s += lagv * c
                    wsum += c
                    n += 1
            ewma = (
                ((2 * s * 1_000_000 + wsum) // (2 * wsum)) / 1e6
                if wsum > 0
                else None
            )
            expect[eid] = (u, cents, n, ewma)

    got = q_ewma_smooth(spark, sf_dir).collect()
    assert len(got) == len(expect)
    for r in got:
        u, cents, n, ewma = expect[r.event_id]
        assert (r.user_id, r.cents, r.n_hist) == (u, cents, n)
        assert r.ewma == ewma
    # early-history sanity: a user's first event has n_hist == 1 and
    # ewma == its own cents (renormalization, not zero-damping)
    first = {evs[0][0]: evs[0][1] for evs in streams.values()}
    for r in got:
        if r.event_id in first and r.n_hist == 1:
            assert r.ewma == float(r.cents)


def test_rank_fusion_rrf_matches_composition_of_its_two_rankings(
    spark, sf_dir
):
    # the fusion must be exactly RRF over the two production rankings
    # it claims to fuse: recompute ranks from _bm25_scored and
    # q_lm_unigram_score (each pinned by its own recompute test), fuse
    # in pure Python with the same k=60 micro-quantization, and demand
    # the identical top list — ranks, ids, and scores
    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        RRF_K,
        RRF_LIST_N,
        RRF_TOPK,
        _bm25_scored,
        q_rank_fusion_rrf,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_lm_unigram_score,
    )

    bm = sorted(
        (
            (r.doc_id, r.micro_score)
            for r in _bm25_scored(spark, sf_dir).collect()
        ),
        key=lambda t: (-t[1], t[0]),
    )[:RRF_LIST_N]
    ra = {d: i + 1 for i, (d, _) in enumerate(bm)}
    lm = sorted(
        (
            (r.doc_id, r.avg_nll)
            for r in q_lm_unigram_score(spark, sf_dir).collect()
        ),
        key=lambda t: (t[1], t[0]),
    )[:RRF_LIST_N]
    rb = {d: i + 1 for i, (d, _) in enumerate(lm)}

    import math

    fused = {}
    for d in set(ra) | set(rb):
        v = (1.0 / (RRF_K + ra[d]) if d in ra else 0.0) + (
            1.0 / (RRF_K + rb[d]) if d in rb else 0.0
        )
        fused[d] = int(math.floor(v * 1_000_000 + 0.5))
    expect = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:RRF_TOPK]

    got = q_rank_fusion_rrf(spark, sf_dir).collect()
    assert [r.rank for r in got] == list(range(1, len(expect) + 1))
    for r, (d, micro) in zip(got, expect):
        assert r.doc_id == d
        assert r.rrf_score == micro / 1e6
        assert r.bm25_rank == ra.get(d)
        assert r.lm_rank == rb.get(d)
    # the fusion must actually mix: at least one top doc from each
    # single ranking's head, else the test corpus degenerated
    assert any(r.bm25_rank and r.bm25_rank <= 5 for r in got)
    assert any(r.lm_rank and r.lm_rank <= 5 for r in got)


def test_dup_span_max_matches_pure_python_recompute(spark, sf_dir):
    # the full pipeline — hot grams, coverage, run lengths —
    # recomputed in pure Python over the same corpus
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        SCRUB_MIN_DOCS,
        SCRUB_NGRAM_N,
        q_dup_span_max,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    gram_docs = defaultdict(set)
    for d, tk in docs.items():
        for i in range(len(tk) - SCRUB_NGRAM_N + 1):
            gram_docs[" ".join(tk[i : i + SCRUB_NGRAM_N])].add(d)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= SCRUB_MIN_DOCS}

    expect = {}
    for d, tk in docs.items():
        cov = set()
        for i in range(len(tk) - SCRUB_NGRAM_N + 1):
            if " ".join(tk[i : i + SCRUB_NGRAM_N]) in hot:
                cov.update(range(i + 1, i + 1 + SCRUB_NGRAM_N))
        best = cur = 0
        prev = -2
        for p in sorted(cov):
            cur = cur + 1 if p == prev + 1 else 1
            best = max(best, cur)
            prev = p
        expect[d] = (len(tk), len(cov), best)

    got = {
        r.doc_id: (r.n_tokens, r.n_covered, r.max_dup_span)
        for r in q_dup_span_max(spark, sf_dir).collect()
    }
    assert got == expect


def test_dup_span_max_planted_spans(spark):
    # planted geometry: a 10-token block shared by two docs inside
    # otherwise-unique text must yield max_dup_span == 10 in both,
    # with n_covered == 10; a fully-unique doc scores 0; two SEPARATE
    # shared 3-grams in one doc yield span 3, coverage 6
    import tempfile

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        q_dup_span_max,
    )

    block = " ".join(f"b{j}" for j in range(10))
    rows = [
        (1, f"u1a u1b u1c {block} u1d u1e"),
        (2, f"{block} u2a u2b u2c u2d u2e"),
        (3, "u3a u3b u3c u3d u3e u3f"),
        # doc 4/5 share gram "x y z" twice, at separated positions
        (4, "x y z u4a u4b u4c x y z"),
        (5, "x y z u5a u5b u5c u5d u5e"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {
            r.doc_id: (r.n_tokens, r.n_covered, r.max_dup_span)
            for r in q_dup_span_max(spark, tmp).collect()
        }
    assert got[1] == (15, 10, 10)
    assert got[2] == (15, 10, 10)
    assert got[3] == (6, 0, 0)
    assert got[4] == (9, 6, 3)
    assert got[5] == (8, 3, 3)


def test_pipeline_fineweb_equals_stage_composition(spark, sf_dir):
    # the composed pipeline must be EXACTLY corpus_prep ∘ join ∘
    # passage_scrub — stage functions each pinned by their own tests
    # and oracles; this pins the composition wiring (hot grams scoped
    # to the post-filter corpus, metadata carried through)
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        passage_scrub,
        q_corpus_prep,
        q_pipeline_fineweb,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    kept = {
        r.doc_id: (r.lang, r.quality_score, r.split)
        for r in q_corpus_prep(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.where(docs.doc_id.isin(*kept.keys()))
    scrub = {
        r.doc_id: (r.n_tokens, r.n_scrubbed, r.scrubbed_text)
        for r in passage_scrub(src).collect()
    }
    got = {r.doc_id: r for r in q_pipeline_fineweb(spark, sf_dir).collect()}
    assert set(got) == set(kept) == set(scrub)
    assert len(got) > 0
    for d, r in got.items():
        assert (r.lang, r.quality_score, r.split) == kept[d]
        assert (r.n_tokens, r.n_scrubbed, r.scrubbed_text) == scrub[d]
    # the scrub ran on the FILTERED corpus: a document whose only
    # duplicate partner was filtered out must NOT be scrubbed against
    # it (hot grams are post-filter by construction — pinned by the
    # oracle, sanity-checked here via the composition equality above)


# ---------------------------------------------------------------------------
# round-8 second wave: orc_interop / acf_lags / ccnet_buckets / zorder_layout


def test_orc_roundtrip_is_bit_exact(spark, sf_dir):
    # the interop claim, checked at row level (not just through the
    # aggregate the oracle grades): the ORC copy holds exactly the
    # multiset of projected parquet rows
    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        ORC_COLS,
        _orc_path,
        q_orc_interop,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    q_orc_interop(spark, sf_dir).collect()  # runs the write
    src = load_table(spark, sf_dir, "lineitem").select(*ORC_COLS)
    back = spark.read.orc(_orc_path(sf_dir))
    assert back.columns == list(ORC_COLS)
    assert back.count() == src.count()
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0


def test_acf_lags_matches_pure_python(spark, sf_dir):
    import math
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        ACF_MAX_LAG,
        q_acf_lags,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    days = [
        (r.d.date() - __import__("datetime").date(1970, 1, 1)).days
        for r in load_table(spark, sf_dir, "orders")
        .selectExpr("o_orderdate AS d")
        .collect()
    ]
    daily = Counter(days)
    expect = {}
    for lag in range(1, ACF_MAX_LAG + 1):
        pairs = [
            (daily[d], daily[d + lag]) for d in daily if d + lag in daily
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx <= 0 or vy <= 0:
            expect[lag] = (n, None)
        else:
            r = 1e6 * (n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))
            # ROUND(x, 0) half-up toward/away from zero as both engines
            expect[lag] = (
                n,
                int(math.floor(r + 0.5)) if r >= 0 else -int(
                    math.floor(-r + 0.5)
                ),
            )

    got = {r.lag: (r.n_pairs, r.acf_micro) for r in
           q_acf_lags(spark, sf_dir).collect()}
    assert got == expect
    # the fixture's daily counts are not constant, so the statistic
    # must be defined (non-NULL) at every lag
    assert all(v[1] is not None for v in got.values())


def test_ccnet_buckets_matches_pure_python_ntile(spark, sf_dir):
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        CCNET_N_BUCKETS,
        q_ccnet_buckets,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_lm_unigram_score,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lang = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    per_lang = defaultdict(list)
    for r in q_lm_unigram_score(spark, sf_dir).collect():
        per_lang[lang[r.doc_id]].append((r.avg_nll, r.doc_id, r.n_words))

    expect = defaultdict(lambda: [0, 0, None, None])  # n, tok, mn, mx
    names = {1: "head", 2: "middle", 3: "tail"}
    for lg, docs in per_lang.items():
        docs.sort()
        n, k = len(docs), CCNET_N_BUCKETS
        base, extra = divmod(n, k)
        pos = 0
        for b in range(1, k + 1):
            size = base + (1 if b <= extra else 0)
            for nll, _, nw in docs[pos : pos + size]:
                e = expect[(lg, names[b])]
                e[0] += 1
                e[1] += nw
                e[2] = nll if e[2] is None else min(e[2], nll)
                e[3] = nll if e[3] is None else max(e[3], nll)
            pos += size

    got = q_ccnet_buckets(spark, sf_dir).collect()
    assert len(got) == len(expect)
    for r in got:
        n, tok, mn, mx = expect[(r.lang, r.bucket)]
        assert (r.n_docs, r.n_tokens) == (n, tok)
        assert (r.min_nll, r.max_nll) == (mn, mx)
    # CCNet's point: per language, head scores ≤ middle ≤ tail
    by_lang = defaultdict(dict)
    for r in got:
        by_lang[r.lang][r.bucket] = r
    for lg, bs in by_lang.items():
        if {"head", "middle", "tail"} <= set(bs):
            assert bs["head"].max_nll <= bs["middle"].min_nll
            assert bs["middle"].max_nll <= bs["tail"].min_nll


def test_zorder_key_sql_rendering_matches_python(spark):
    import random

    import duckdb

    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        _zorder_interleave_expr,
        zorder_key_py,
    )

    rng = random.Random(8)
    pts = [(0, 0), (1023, 1023), (1, 0), (0, 1), (512, 256)] + [
        (rng.randrange(1024), rng.randrange(1024)) for _ in range(40)
    ]
    df = spark.createDataFrame(pts, "x long, y long")
    got_spark = [
        r.z
        for r in df.selectExpr(
            f"{_zorder_interleave_expr('x', 'y', 'div')} AS z"
        ).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {_zorder_interleave_expr(str(x), str(y), '//')}"
        ).fetchone()[0]
        for x, y in pts
    ]
    expect = [zorder_key_py(x, y) for x, y in pts]
    assert got_spark == expect
    assert got_duck == expect
    # the defining property: z is a bijection on the 20-bit grid
    assert len({zorder_key_py(x, y) for x, y in pts}) == len(set(pts))


def test_zorder_sorted_layout_narrows_per_file_ranges(spark, sf_dir, tmp_path):
    # the data-skipping claim behind zorder_layout's docstring: files
    # written in z order carry custkey min/max ranges a fraction of a
    # round-robin layout's, so stats-based pruning has something to
    # prune on for EITHER dimension
    from pyspark.sql import functions as F

    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        _zorder_interleave_expr,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey AS ck",
        "datediff(to_date(o_orderdate), to_date('1970-01-01')) AS d",
    )
    row = o.selectExpr(
        "min(ck) AS a", "max(ck) AS b", "min(d) AS c", "max(d) AS e"
    ).first()
    keyed = o.selectExpr(
        "ck",
        f"CAST(((ck - {row.a}) * 1024) div ({row.b} - {row.a} + 1) AS BIGINT)"
        " AS x",
        f"CAST(((d - {row.c}) * 1024) div ({row.e} - {row.c} + 1) AS BIGINT)"
        " AS y",
    ).selectExpr("ck", f"{_zorder_interleave_expr('x', 'y', 'div')} AS z")

    zdir, rdir = str(tmp_path / "zsorted"), str(tmp_path / "roundrobin")
    keyed.repartitionByRange(8, "z").sortWithinPartitions("z").write.parquet(
        zdir
    )
    keyed.repartition(8).write.parquet(rdir)

    def mean_span(path: str) -> float:
        spans = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max("ck") - F.min("ck")).alias("span"))
            .collect()
        )
        return sum(r.span for r in spans) / len(spans)

    assert mean_span(zdir) < 0.5 * mean_span(rdir)


def test_jsonl_roundtrip_is_exact_and_tolerates_corrupt_lines(
    spark, sf_dir, tmp_path
):
    # (a) the graded clean path: read-back rows equal the projected
    # source multiset exactly; (b) the PERMISSIVE corrupt-record lane
    # the docstring promises: planted garbage lines surface as
    # _corrupt_record rows instead of failing the read or silently
    # widening columns
    import os

    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        JSONL_SCHEMA,
        _jsonl_path,
        q_jsonl_interop,
    )

    q_jsonl_interop(spark, sf_dir).collect()  # runs the write
    src = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
            "datediff(to_date(o_orderdate), to_date('1970-01-01')) AS d",
        )
    )
    back = spark.read.schema(JSONL_SCHEMA).json(_jsonl_path(sf_dir))
    assert back.count() == src.count()
    assert back.exceptAll(src).count() == 0
    assert src.exceptAll(back).count() == 0

    # corrupt-line tolerance: copy one part file, append garbage
    part = next(
        f
        for f in os.listdir(_jsonl_path(sf_dir))
        if f.endswith(".json")
    )
    dirty_dir = tmp_path / "dirty"
    dirty_dir.mkdir()
    clean_text = open(os.path.join(_jsonl_path(sf_dir), part)).read()
    n_clean = len(clean_text.strip().splitlines())
    (dirty_dir / "part-00000.json").write_text(
        clean_text + '{"o_orderkey": }\nnot json at all\n'
    )
    # Spark refuses a query that references ONLY the internal corrupt
    # column (SPARK-26243); collect once and count in Python
    rows = spark.read.schema(
        JSONL_SCHEMA + ", _corrupt_record STRING"
    ).json(str(dirty_dir)).collect()
    assert len(rows) == n_clean + 2
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(corrupt) == 2
    assert sum(
        1
        for r in rows
        if r._corrupt_record is None and r.o_orderkey is not None
    ) == n_clean


def test_interop_sweep_collects_only_aged_out_generations(tmp_path, monkeypatch):
    # the decommission rule for interop copies: a superseded
    # fingerprint generation survives the grace period (a late reader
    # may still resolve into it), then gets collected; the current
    # generation and foreign files are never touched
    import os
    import tempfile as _tf
    import time

    from data_ingestion_s3_to_parquet_spark import artifacts

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    fresh = tmp_path / "spark_graft_orc_fresh"
    stale = tmp_path / "spark_graft_orc_stale"
    keep = tmp_path / "spark_graft_orc_current"
    other = tmp_path / "spark_graft_jsonl_x"
    for d in (fresh, stale, keep, other):
        d.mkdir()
    old = time.time() - 3600
    os.utime(stale, (old, old))
    os.utime(other, (old, old))
    artifacts.sweep_stale_siblings("spark_graft_orc_", "spark_graft_orc_current")
    assert not stale.exists()          # aged out, superseded: swept
    assert fresh.exists()              # inside grace: kept
    assert keep.exists()               # current generation: kept
    assert other.exists()              # different lane prefix: kept


def test_dedup_incremental_planted_scenario(spark, tmp_path):
    # a synthetic corpus with every case: delta text already in base
    # (dropped), fresh text duplicated within the delta (one survivor,
    # multiplicity counted), fresh unique text (kept), and base-only
    # texts (never emitted)
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        DELTA_SOURCES,
        q_dedup_incremental,
    )

    base_src, delta_src = "src0", DELTA_SOURCES[0]
    rows = [
        (1, "alpha beta", "en", base_src, 10),   # base only
        (2, "gamma delta", "en", base_src, 11),  # shadows delta doc 4
        (3, "omega", "en", base_src, 5),
        (4, "gamma delta", "en", delta_src, 11),   # dropped: in base
        (5, "fresh text one", "en", delta_src, 14),  # kept, 2 copies
        (6, "fresh text one", "en", delta_src, 14),  # folded into 5
        (7, "fresh text two", "en", DELTA_SOURCES[1], 14),  # kept
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.doc_id: r.n_delta_copies
        for r in q_dedup_incremental(spark, str(tmp_path)).collect()
    }
    assert got == {5: 2, 7: 1}


def test_lm_bigram_score_sees_through_word_salad(spark, tmp_path):
    # the operator's point: a scrambled document with a PLAUSIBLE
    # vocabulary (identical unigram profile) must score worse than the
    # stereotyped original, because its adjacencies are rare. Corpus:
    # many copies of a fixed phrase + one scrambled permutation of it.
    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        q_lm_bigram_score,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_lm_unigram_score,
    )

    phrase = "the quick brown fox jumps over the lazy dog"
    salad = "dog the over quick lazy jumps fox brown the"  # same bag
    rows = [(i, phrase, "en", "src0", len(phrase)) for i in range(20)]
    rows.append((99, salad, "en", "src1", len(salad)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    bg = {r.doc_id: r for r in q_lm_bigram_score(spark, str(tmp_path)).collect()}
    ug = {r.doc_id: r for r in q_lm_unigram_score(spark, str(tmp_path)).collect()}
    assert len(bg) == 21 and bg[99].n_bigrams == 8
    # unigram is blind to the scramble (same bag of words)
    assert ug[99].avg_nll == ug[0].avg_nll
    # bigram is not
    assert bg[99].avg_nll > bg[0].avg_nll
    # and the salad's bigrams are the corpus's rare tail: every one
    # unique, so all are in-vocab here but maximally surprising
    assert bg[99].avg_nll > 2 * bg[0].avg_nll


def test_eval_auc_planted_separable_and_tied_cases(spark, tmp_path):
    # perfect separation both ways, then a hand-computed tie case,
    # on planted corpora where lm avg_nll ordering is forced by word
    # rarity (frequent words => low nll)
    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        AUC_POS_LANG,
        q_eval_auc,
    )

    def write(rows, path):
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    # corpus A: 'en' docs use the dominant word (low nll = low score);
    # others use unique rare words (high nll). Positives all score
    # BELOW negatives -> negatives never "below" a positive -> AUC 0.
    rows = [(i, "common common common", AUC_POS_LANG, "s", 20) for i in range(5)]
    rows += [(10 + i, f"rare{i} rare{i}x rare{i}y", "de", "s", 20) for i in range(5)]
    a = tmp_path / "a"
    write(rows, a)
    r = q_eval_auc(spark, str(a)).collect()[0]
    assert (r.n_pos, r.n_neg) == (5, 5)
    assert r.u2 == 0 and r.auc_micro == 0

    # corpus B: flip the languages -> perfect AUC 1
    rows = [(i, "common common common", "de", "s", 20) for i in range(5)]
    rows += [(10 + i, f"rare{i} rare{i}x rare{i}y", AUC_POS_LANG, "s", 20) for i in range(5)]
    b = tmp_path / "b"
    write(rows, b)
    r = q_eval_auc(spark, str(b)).collect()[0]
    assert r.u2 == 2 * 25 and r.auc_micro == 1_000_000

    # corpus C: every doc identical -> one score, all tied:
    # 2U = n_pos * n_neg, AUC = 0.5 exactly
    rows = [(i, "same text here", AUC_POS_LANG if i < 3 else "de", "s", 14)
            for i in range(7)]
    c = tmp_path / "c"
    write(rows, c)
    r = q_eval_auc(spark, str(c)).collect()[0]
    assert (r.n_pos, r.n_neg) == (3, 4)
    assert r.u2 == 3 * 4
    assert r.auc_micro == 500_000


def test_eval_ndcg_matches_pure_python_recompute(spark, sf_dir):
    # recompute DCG/IDCG/NDCG from the shared bm25-scored frame with
    # plain Python sorts — pins ranking order, the literal discount
    # table, and the quantized ratio
    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        _bm25_scored,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        NDCG_DISCOUNTS_MICRO,
        NDCG_K,
        q_eval_ndcg,
    )

    # the injected table IS round(1e6/log2(r+1)) and strictly decreases
    import math

    assert NDCG_DISCOUNTS_MICRO == tuple(
        round(1_000_000 / math.log2(r + 1)) for r in range(1, NDCG_K + 1)
    )
    assert all(
        a > b
        for a, b in zip(NDCG_DISCOUNTS_MICRO, NDCG_DISCOUNTS_MICRO[1:])
    )

    rows = [
        (r.doc_id, r.n_hit_terms, r.micro_score)
        for r in _bm25_scored(spark, sf_dir).collect()
    ]
    act = sorted(rows, key=lambda t: (-t[2], t[0]))[:NDCG_K]
    idl = sorted(rows, key=lambda t: (-t[1], t[0]))[:NDCG_K]
    dcg = sum(rel * d for (_, rel, _), d in zip(act, NDCG_DISCOUNTS_MICRO))
    idcg = sum(rel * d for (_, rel, _), d in zip(idl, NDCG_DISCOUNTS_MICRO))
    got = q_eval_ndcg(spark, sf_dir).collect()[0]
    assert (got.k, got.dcg_micro, got.idcg_micro) == (NDCG_K, dcg, idcg)
    assert got.ndcg_micro == round(1_000_000 * dcg / idcg)
    # ideal ordering dominates the actual one by construction
    assert 0 < got.dcg_micro <= got.idcg_micro
    assert got.ndcg_micro <= 1_000_000


def test_eval_ndcg_is_one_on_a_relevance_ordered_corpus(spark, tmp_path):
    # plant a corpus where BM25 order == relevance order: docs with
    # more distinct query terms (higher rel) also score higher, so
    # DCG == IDCG exactly
    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        BM25_TERMS,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        q_eval_ndcg,
    )

    rows = []
    for i in range(12):
        n_terms = 1 + (i % 4)  # 1..4 distinct query terms
        words = list(BM25_TERMS[:n_terms]) + ["filler"] * 3
        rows.append((i, " ".join(words), "en", "s", 40))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = q_eval_ndcg(spark, str(tmp_path)).collect()[0]
    assert r.dcg_micro == r.idcg_micro
    assert r.ndcg_micro == 1_000_000


def test_eval_calibration_matches_pure_python_recompute(spark, sf_dir):
    # replicate rank + NTILE fill (earlier bins one larger) + the two
    # micro-quantized ratios in plain Python
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_lm_unigram_score,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        CAL_N_BINS,
        CAL_POS_LANG,
        q_eval_calibration,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lm = {
        r.doc_id: r.avg_nll
        for r in q_lm_unigram_score(spark, sf_dir).collect()
    }
    lang = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    docs = sorted(lm, key=lambda d: (lm[d], d))
    n_total = len(docs)
    base, extra = divmod(n_total, CAL_N_BINS)
    expected = {}
    pos = 0
    for b in range(1, CAL_N_BINS + 1):
        size = base + (1 if b <= extra else 0)
        members = docs[pos : pos + size]
        ranks = range(pos + 1, pos + size + 1)
        pos += size
        n_pos = sum(1 for d in members if lang[d] == CAL_POS_LANG)
        sr = sum(ranks)
        conf = round(1_000_000 * sr / (size * n_total))
        acc = round(1_000_000 * n_pos / size)
        expected[b] = (size, n_pos, conf, acc, abs(acc - conf))
    got = {
        r.bin: (r.n, r.n_pos, r.conf_micro, r.acc_micro, r.gap_micro)
        for r in q_eval_calibration(spark, sf_dir).collect()
    }
    assert got == expected


def test_eval_calibration_perfect_and_worst_cases(spark, tmp_path):
    # planted corpora: (a) positives uniformly mixed through every
    # score level -> acc flat at the base rate; (b) positives all in
    # the top-score bins -> top-bin acc 1_000_000, bottom 0
    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        CAL_N_BINS,
        CAL_POS_LANG,
        q_eval_calibration,
    )

    def write(rows, path):
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    # 20 docs, unique rare words => 20 distinct scores ordered by
    # doc-specific rarity; mark the 10 HIGHEST-nll docs positive
    rows = []
    for i in range(20):
        # doc i repeats a shared word (20 - i) times: more repeats of
        # the common token => lower avg nll => lower rank
        text = " ".join(["common"] * (21 - i) + [f"rare{i}"])
        rows.append(
            (i, text, CAL_POS_LANG if i >= 10 else "de", "s", len(text))
        )
    b = tmp_path / "b"
    write(rows, b)
    got = {
        r.bin: r for r in q_eval_calibration(spark, str(b)).collect()
    }
    assert len(got) == CAL_N_BINS
    assert all(got[b_].n == 2 for b_ in got)
    # positives concentrate in the top half of the score order
    assert all(got[b_].acc_micro == 0 for b_ in range(1, 6))
    assert all(got[b_].acc_micro == 1_000_000 for b_ in range(6, 11))
    # gap is |acc - conf| bin-wise
    for r in got.values():
        assert r.gap_micro == abs(r.acc_micro - r.conf_micro)


def test_graph_sssp_matches_python_bfs(spark, sf_dir):
    # pure-Python BFS from the max-degree hub over the same
    # support-filtered co-purchase graph — pins source selection,
    # reachability, and every hop distance; BFS runs to TRUE
    # completion, so this also proves SSSP_ROUNDS is a converged
    # unroll on the fixture, not a truncation
    from collections import defaultdict, deque

    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        KCORE_SUPPORT,
        q_graph_sssp,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    per_order = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        per_order[r.l_orderkey].add(r.l_partkey)
    support = defaultdict(int)
    for parts in per_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                support[(a, b)] += 1
    adj = defaultdict(set)
    for (a, b), s in support.items():
        if s >= KCORE_SUPPORT:
            adj[a].add(b)
            adj[b].add(a)
    src = max(adj, key=lambda n: (len(adj[n]), -n))
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {(r.node, r.dist) for r in q_graph_sssp(spark, sf_dir).collect()}
    assert got == set(dist.items())


def test_graph_sssp_planted_chain(spark, tmp_path):
    # a planted 5-node chain 1-2-3-4-5 (each edge backed by exactly
    # KCORE_SUPPORT shared orders): max-degree ties resolve to the
    # smallest inner node (2), distances are the chain offsets
    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        q_graph_sssp,
    )

    rows = []
    ok = 0
    for a, b in ((1, 2), (2, 3), (3, 4), (4, 5)):
        for _ in range(2):  # support 2 per edge
            ok += 1
            for ln, p in enumerate((a, b), start=1):
                rows.append(
                    (ok, p, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O",
                     "2024-01-01 00:00:00")
                )
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).withColumn(
        "l_shipdate", F.to_timestamp("l_shipdate")
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = {(r.node, r.dist) for r in q_graph_sssp(spark, str(tmp_path)).collect()}
    assert got == {(2, 0), (1, 1), (3, 1), (4, 2), (5, 3)}


def test_eval_pr_curve_matches_pure_python_and_planted_monotonics(
    spark, sf_dir, tmp_path
):
    # fixture recompute: replicate NTILE bins + cumulative P/R/F1 in
    # plain Python; planted corpus: positives exactly the fluent half
    # -> precision stays 1.0 through bin 5, recall hits 1.0 at 5 and
    # precision decays harmonically after
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_lm_unigram_score,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        CAL_N_BINS,
        CAL_POS_LANG,
        q_eval_pr_curve,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lm = {
        r.doc_id: r.avg_nll
        for r in q_lm_unigram_score(spark, sf_dir).collect()
    }
    lang = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    docs = sorted(lm, key=lambda d: (lm[d], d))
    n_total = len(docs)
    base, extra = divmod(n_total, CAL_N_BINS)
    total_pos = sum(1 for d in docs if lang[d] == CAL_POS_LANG)
    expected = {}
    pos_ct = 0
    n_ct = 0
    idx = 0
    for b in range(1, CAL_N_BINS + 1):
        size = base + (1 if b <= extra else 0)
        members = docs[idx : idx + size]
        idx += size
        n_ct += size
        pos_ct += sum(1 for d in members if lang[d] == CAL_POS_LANG)
        prec = round(1_000_000 * pos_ct / n_ct)
        rec = round(1_000_000 * pos_ct / total_pos) if total_pos else None
        f1 = round(1_000_000 * 2 * pos_ct / (n_ct + total_pos))
        expected[b] = (n_ct, pos_ct, prec, rec, f1)
    got = {
        r.bin: (r.cum_n, r.cum_tp, r.prec_micro, r.rec_micro, r.f1_micro)
        for r in q_eval_pr_curve(spark, sf_dir).collect()
    }
    assert got == expected

    # planted: 20 docs with strictly ordered scores, positives = the
    # 10 most fluent (same construction as the calibration test, with
    # the positive lang on the LOW-nll half)
    rows = []
    for i in range(20):
        text = " ".join(["common"] * (21 - i) + [f"rare{i}"])
        rows.append(
            (i, text, CAL_POS_LANG if i < 10 else "de", "s", len(text))
        )
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r.bin: r for r in q_eval_pr_curve(spark, str(tmp_path)).collect()}
    for b in range(1, 6):
        assert got[b].prec_micro == 1_000_000
        assert got[b].rec_micro == round(1_000_000 * b / 5)
    assert got[5].f1_micro == 1_000_000  # the perfect operating point
    for b in range(6, 11):
        assert got[b].rec_micro == 1_000_000
        assert got[b].prec_micro == round(1_000_000 * 10 / (2 * b))


def test_drift_psi_matches_pure_python_recompute(spark, sf_dir):
    # replicate both dimensions' bucket counts + the exact IEEE
    # contribution sequence (ln, 1e-6 floor, micro-round) in Python
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        PSI_PIVOT_DATE,
        PSI_PRICE_BIN,
        PSI_PRICE_MAX_BIN,
        q_drift_psi,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    import datetime as dt

    pivot = dt.datetime.fromisoformat(PSI_PIVOT_DATE)
    rows = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderdate"
    ).collect()
    nb_tot = sum(1 for r in rows if r.o_orderdate < pivot)
    nc_tot = len(rows) - nb_tot
    counts = {}
    for r in rows:
        pb = min(int(r.o_totalprice // PSI_PRICE_BIN), PSI_PRICE_MAX_BIN)
        for dim, bucket in (
            ("priority", r.o_orderpriority),
            ("price_bin", str(pb)),
        ):
            k = (dim, bucket)
            nb, nc = counts.get(k, (0, 0))
            if r.o_orderdate < pivot:
                nb += 1
            else:
                nc += 1
            counts[k] = (nb, nc)

    def contrib(nb, nc):
        p = nb / nb_tot
        q = nc / nc_tot
        return round((p - q) * math.log(max(p, 1e-6) / max(q, 1e-6)) * 1e6)

    expected = {
        k: (
            nb,
            nc,
            round(1e6 * nb / nb_tot),
            round(1e6 * nc / nc_tot),
            contrib(nb, nc),
        )
        for k, (nb, nc) in counts.items()
    }
    got = {
        (r.dim, r.bucket): (
            r.n_base,
            r.n_cur,
            r.p_base_micro,
            r.p_cur_micro,
            r.psi_contrib_micro,
        )
        for r in q_drift_psi(spark, sf_dir).collect()
    }
    assert got == expected


def test_drift_psi_planted_shift_and_stability(spark, tmp_path):
    # two planted snapshots: identical distributions -> PSI 0 on both
    # dims; then a hard category shift -> large positive PSI on the
    # priority dim only, and one-sided buckets still surface
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        q_drift_psi,
    )

    before = dt.datetime(1996, 1, 1)
    after = dt.datetime(2000, 1, 1)

    def write(rows, path):
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string",
        ).write.mode("overwrite").parquet(f"{path}/orders.parquet")

    # stable: both halves 50/50 between two priorities, same prices
    rows = []
    for i in range(40):
        rows.append(
            (i, 1, "O", 10_000.0, before if i < 20 else after,
             "1-URGENT" if i % 2 else "5-LOW")
        )
    a = tmp_path / "stable"
    write(rows, a)
    got = {(r.dim, r.bucket): r for r in q_drift_psi(spark, str(a)).collect()}
    assert all(r.psi_contrib_micro == 0 for r in got.values())

    # shifted: baseline all URGENT, current all LOW
    rows = [
        (i, 1, "O", 10_000.0, before, "1-URGENT") for i in range(20)
    ] + [
        (100 + i, 1, "O", 10_000.0, after, "5-LOW") for i in range(20)
    ]
    b = tmp_path / "shifted"
    write(rows, b)
    got = {(r.dim, r.bucket): r for r in q_drift_psi(spark, str(b)).collect()}
    u = got[("priority", "1-URGENT")]
    lo = got[("priority", "5-LOW")]
    # one-sided buckets surface with a zero on the other side
    assert (u.n_base, u.n_cur) == (20, 0)
    assert (lo.n_base, lo.n_cur) == (0, 20)
    # each side contributes ~1.0 * ln(1/1e-6) ≈ 13.8 -> far past the
    # 0.25 "shifted" threshold
    assert u.psi_contrib_micro > 10_000_000
    assert lo.psi_contrib_micro > 10_000_000
    # the price dimension stayed identical -> zero drift
    assert got[("price_bin", "0")].psi_contrib_micro == 0


def test_drift_ks_matches_pure_python_recompute(spark, sf_dir):
    # recompute the two-sample KS statistic from the raw parquet with
    # an independent single-pass Python ECDF walk — pins the two-phase
    # bucketed prefix sum against the textbook definition
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        PSI_PIVOT_DATE,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        q_drift_ks,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    pivot = dt.datetime.fromisoformat(PSI_PIVOT_DATE)
    rows = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderdate"
    ).collect()
    from collections import defaultdict

    d = defaultdict(lambda: [0, 0])
    for r in rows:
        d[r.o_totalprice][0 if r.o_orderdate < pivot else 1] += 1
    n1 = sum(v[0] for v in d.values())
    n2 = sum(v[1] for v in d.values())
    c1 = c2 = 0
    ks_num = 0
    for p in sorted(d):
        c1 += d[p][0]
        c2 += d[p][1]
        ks_num = max(ks_num, abs(c1 * n2 - c2 * n1))
    got = q_drift_ks(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_ref, r.n_cur, r.ks_num) == (n1, n2, ks_num)
    assert r.ks_micro == round(1_000_000 * ks_num / (float(n1) * n2))


def test_drift_ks_planted_shift_and_identity(spark, tmp_path):
    # identical snapshots -> KS 0; a hard location shift with no
    # overlap -> KS 1 (ks_micro = 1e6). Prices chosen to span multiple
    # prefix-sum buckets so the carry path is exercised.
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        q_drift_ks,
    )

    before = dt.datetime(1996, 1, 1)
    after = dt.datetime(2000, 1, 1)

    def write(rows, path):
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string",
        ).write.mode("overwrite").parquet(f"{path}/orders.parquet")

    prices = [1_000.0, 15_000.0, 37_500.0, 90_000.0, 140_000.0]
    rows = []
    for i, p in enumerate(prices * 4):
        rows.append((i, 1, "O", p, before if i % 2 else after, "5-LOW"))
    a = tmp_path / "stable"
    write(rows, a)
    r = q_drift_ks(spark, str(a)).collect()[0]
    assert (r.n_ref, r.n_cur) == (10, 10)
    assert r.ks_num == 0 and r.ks_micro == 0

    # disjoint supports: every ref price below every cur price
    rows = [(i, 1, "O", 1_000.0 + i, before, "5-LOW") for i in range(10)]
    rows += [(100 + i, 1, "O", 90_000.0 + i, after, "5-LOW") for i in range(10)]
    b = tmp_path / "shifted"
    write(rows, b)
    r = q_drift_ks(spark, str(b)).collect()[0]
    assert r.ks_num == 10 * 10  # max gap = n1*n2 when supports disjoint
    assert r.ks_micro == 1_000_000

    # a WITHIN-bin reshuffle drift_psi's 50k-wide bins cannot see:
    # both snapshots entirely inside bucket [0, 50k), but shifted
    rows = [(i, 1, "O", 10_000.0, before, "5-LOW") for i in range(10)]
    rows += [(100 + i, 1, "O", 40_000.0, after, "5-LOW") for i in range(10)]
    c = tmp_path / "withinbin"
    write(rows, c)
    r = q_drift_ks(spark, str(c)).collect()[0]
    assert r.ks_micro == 1_000_000  # KS sees it at full strength


def test_skew_autosalt_decision_and_sums_on_planted_skew(spark, tmp_path):
    # one hot key (100 rows), one warm (40), many cold -> fan-outs
    # ceil(100/32)=4 and ceil(40/32)=2 and 1; sums must equal direct
    # aggregation exactly and partial counts stay within the fan-out
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        SALT_TARGET_ROWS,
        SALT_TOPK,
        q_skew_autosalt,
    )

    assert SALT_TARGET_ROWS == 32  # decision math below assumes this
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user, n in [(1, 100), (2, 40)] + [(u, 3) for u in range(10, 30)]:
        for _ in range(n):
            rows.append((eid, base, user, "click", 1.25, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {r.user_id: r for r in q_skew_autosalt(spark, str(tmp_path)).collect()}
    assert len(got) == SALT_TOPK
    assert got[1].n_rows == 100 and got[1].salt_buckets == 4
    assert got[2].n_rows == 40 and got[2].salt_buckets == 2
    assert got[1].sum_cents == 100 * 125  # bitwise direct-agg equality
    assert got[2].sum_cents == 40 * 125
    # sequential event_ids hit every residue class -> all parts used
    assert got[1].n_salt_parts == 4 and got[2].n_salt_parts == 2
    # cold keys fan out to a single bucket (no pointless salting)
    cold = [r for u, r in got.items() if u >= 10]
    assert cold and all(
        r.salt_buckets == 1 and r.n_salt_parts == 1 for r in cold
    )


def test_privacy_kanon_planted_classes(spark, tmp_path):
    # hand-built QI classes of size 1, 3, 6, and 12 -> one row per
    # band with exact class/row counts and the k=5 violation flags
    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        q_privacy_kanon,
    )

    rows = []
    cid = 0

    def add_class(nation, seg, bal, n):
        nonlocal cid
        for _ in range(n):
            rows.append((cid, f"Customer#{cid}", nation, bal, seg))
            cid += 1

    add_class(1, "AUTO", 100.0, 1)       # size 1
    add_class(2, "AUTO", 100.0, 3)       # size 3
    add_class(3, "HOUSE", 100.0, 6)      # size 6
    add_class(4, "HOUSE", 100.0, 12)     # size 12
    # same nation+segment but a DIFFERENT balance band -> own class
    add_class(4, "HOUSE", 5000.0, 1)     # size 1 (band split works)
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")

    got = {r.size_band: r for r in q_privacy_kanon(spark, str(tmp_path)).collect()}
    assert set(got) == {"1", "2-4", "5-9", "10+"}
    assert (got["1"].n_classes, got["1"].n_rows, got["1"].violates_k) == (2, 2, True)
    assert (got["2-4"].n_classes, got["2-4"].n_rows, got["2-4"].violates_k) == (1, 3, True)
    assert (got["5-9"].n_classes, got["5-9"].n_rows, got["5-9"].violates_k) == (1, 6, False)
    assert (got["10+"].n_classes, got["10+"].n_rows, got["10+"].violates_k) == (1, 12, False)


def test_quantile_select_matches_pure_python_recompute(spark, sf_dir):
    # recompute every type-1 quantile rank from the raw cents with a
    # plain Python sort — pins the distributed selection (bucket
    # locate + bucket-local row_number) against the naive definition,
    # and asserts every sketch contract boolean landed true
    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        QSEL_QUANTILES,
        q_quantile_select,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    from collections import defaultdict

    by_f = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    ):
        by_f[r.l_returnflag].append(round(r.l_extendedprice * 100))
    expected = {}
    for f, vals in by_f.items():
        vals.sort()
        n = len(vals)
        for qn, qd, lab in QSEL_QUANTILES:
            tr = (qn * n + qd - 1) // qd
            expected[(f, lab)] = (n, tr, vals[tr - 1])
    got = {
        (r.l_returnflag, r.quantile): r
        for r in q_quantile_select(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for key, (n, tr, cents) in expected.items():
        r = got[key]
        assert (r.n_rows, r.target_rank, r.exact_cents) == (n, tr, cents)
        assert r.approx_ok  # sketch landed inside the rank window


def test_reconcile_sources_planted_statuses(spark, tmp_path):
    # one order per classifier branch: exact match, within 10%,
    # gross mismatch, header-only (left_only), detail-only (right_only)
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        q_reconcile_sources,
    )

    d = dt.datetime(1997, 1, 1)
    orders = [
        (1, 1, "O", 100.00, d, "5-LOW"),   # exact: details sum to 100.00
        (2, 1, "O", 100.00, d, "5-LOW"),   # within_10pct: details 95.00
        (3, 1, "O", 100.00, d, "5-LOW"),   # mismatch: details 10.00
        (4, 1, "O", 100.00, d, "5-LOW"),   # left_only: no details
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    li = [
        (1, 1, 1, 1, 1.0, 60.00, 0.0, "N", "O", d),
        (1, 1, 1, 2, 1.0, 40.00, 0.0, "N", "O", d),
        (2, 1, 1, 1, 1.0, 95.00, 0.0, "N", "O", d),
        (3, 1, 1, 1, 1.0, 10.00, 0.0, "N", "O", d),
        (99, 1, 1, 1, 1.0, 5.00, 0.0, "N", "O", d),  # right_only
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")

    got = {r.status: r for r in q_reconcile_sources(spark, str(tmp_path)).collect()}
    assert set(got) == {"exact", "within_10pct", "mismatch", "left_only", "right_only"}
    assert all(r.n == 1 for r in got.values())
    assert got["exact"].abs_drift_cents == 0
    assert got["within_10pct"].abs_drift_cents == 500
    assert got["mismatch"].abs_drift_cents == 9000
    assert got["left_only"].abs_drift_cents == 0   # orphan drift is 0
    assert got["right_only"].abs_drift_cents == 0
    assert all(r.share_micro == 200_000 for r in got.values())  # 1/5 each


def test_rolling_median_ignores_planted_spike(spark, tmp_path):
    # a single 100x spike moves an EWMA for W rows but the rolling
    # median not at all once the window holds a majority of normals;
    # also pins the (n+1) div 2 lower-median rank on partial windows
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        q_rolling_median,
    )

    base = dt.datetime(2024, 1, 1)
    vals = [10.0, 10.0, 1000.0, 10.0, 10.0, 10.0]
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {r.event_id: r for r in q_rolling_median(spark, str(tmp_path)).collect()}
    # partial windows: n=1 -> rank 1; n=2 -> rank 1 (lower median)
    assert (got[0].n_window, got[0].median_cents) == (1, 1000)
    assert (got[1].n_window, got[1].median_cents) == (2, 1000)
    # the spike row itself: window [10,10,1000] -> median 10
    assert (got[2].n_window, got[2].median_cents) == (3, 1000)
    # every later full-window row keeps median 10.00 despite the spike
    assert got[3].median_cents == 1000 and got[4].median_cents == 1000
    assert (got[5].n_window, got[5].median_cents) == (5, 1000)


def test_forecast_snaive_planted_profile_and_coverage(spark, tmp_path):
    # hand-built profile: train clicks at hour 0 average 10.00; two
    # holdout clicks at hour 0 with values 10.00 (err 0) and 13.00
    # (err 3.00) -> MAE 1.50 in micro-cents; a holdout event at an
    # hour with NO training data counts in n_holdout but not n_covered
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        FC_PIVOT_TS,
        q_forecast_snaive,
    )

    pivot = dt.datetime.fromisoformat(FC_PIVOT_TS)
    tr = pivot - dt.timedelta(days=2)  # hour 0
    ho = pivot + dt.timedelta(days=1)  # hour 0
    rows = [
        (1, tr, 1, "click", 8.00, "{}"),
        (2, tr, 1, "click", 12.00, "{}"),   # train mean = 10.00
        (3, ho, 1, "click", 10.00, "{}"),   # err 0
        (4, ho, 1, "click", 13.00, "{}"),   # err 3.00
        (5, ho + dt.timedelta(hours=5), 1, "click", 1.00, "{}"),  # uncovered
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {r.event_type: r for r in q_forecast_snaive(spark, str(tmp_path)).collect()}
    r = got["click"]
    assert (r.n_train, r.n_holdout, r.n_covered) == (2, 3, 2)
    # errors: |1000*1e6 - 1000*1e6| = 0 and |1300*1e6 - 1000*1e6| =
    # 300*1e6 -> MAE = 150*1e6 micro-cents = 1.50 dollars... in cents
    assert r.mae_micro == 150_000_000


def test_ref_integrity_audit_counts_planted_orphans(spark, tmp_path):
    # two orphans + one NULL fk planted on the orders->customer edge;
    # the lineitem->orders edge stays clean; duplicate parent keys
    # must not double-count matches (DISTINCT on the parent side)
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        q_ref_integrity_audit,
    )

    d = dt.datetime(1997, 1, 1)
    spark.createDataFrame(
        [(1, "Customer#1", 1, 10.0, "AUTO"),
         (1, "Customer#1-dup", 1, 10.0, "AUTO"),  # dup pk: no fan-out
         (2, "Customer#2", 1, 10.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(10, 1, "O", 5.0, d, "5-LOW"),
         (11, 2, "O", 5.0, d, "5-LOW"),
         (12, 99, "O", 5.0, d, "5-LOW"),    # orphan
         (13, 98, "O", 5.0, d, "5-LOW"),    # orphan
         (14, None, "O", 5.0, d, "5-LOW")],  # NULL fk (not an orphan)
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(10, 1, 1, 1, 1.0, 5.0, 0.0, "N", "O", d)],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 1, "p", "b", "t")],
        "p_partkey long, p_name string, p_mfgr string,"  # minimal part
        " p_brand string, p_type string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    spark.createDataFrame(
        [(1, d, 1, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {
        (r.child_table, r.fk_col): r
        for r in q_ref_integrity_audit(spark, str(tmp_path)).collect()
    }
    oc = got[("orders", "o_custkey")]
    assert (oc.n_rows, oc.n_null_fk, oc.n_orphans) == (5, 1, 2)
    assert oc.orphan_share_micro == 400_000  # 2/5
    lo = got[("lineitem", "l_orderkey")]
    assert (lo.n_rows, lo.n_null_fk, lo.n_orphans) == (1, 0, 0)
    lp = got[("lineitem", "l_partkey")]
    assert (lp.n_rows, lp.n_orphans) == (1, 0)
    ev = got[("events", "user_id")]
    assert (ev.n_rows, ev.n_orphans) == (1, 0)


def test_mmr_rerank_matches_pure_python_greedy(spark, sf_dir):
    # recompute the greedy from the SAME distributed pool/pair frames
    # with an independent Python implementation (argmax over
    # (-obj, doc_id)) — pins selection order, penalties, objectives
    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        MMR_K,
        MMR_LAMBDA_TENTHS,
        _mmr_pool,
        q_mmr_rerank,
    )

    pool_rel, pairs = _mmr_pool(spark, sf_dir)
    rel = {r.doc_id: r.rel_micro for r in pool_rel.collect()}
    sim = {}
    for r in pairs.collect():
        sim[(r.doc_a, r.doc_b)] = sim[(r.doc_b, r.doc_a)] = r.sim_micro
    lam = MMR_LAMBDA_TENTHS
    chosen, expected = [], []
    while len(chosen) < min(MMR_K, len(rel)):
        cands = []
        for d, rv in rel.items():
            if d in chosen:
                continue
            pen = max((sim.get((d, s), 0) for s in chosen), default=0)
            cands.append((-(lam * rv - (10 - lam) * pen), d, rv, pen))
        cands.sort()
        negobj, d, rv, pen = cands[0]
        chosen.append(d)
        expected.append((len(chosen), d, rv, pen, -negobj))
    got = [
        (r.rank, r.doc_id, r.rel_micro, r.penalty_micro, r.obj_micro)
        for r in q_mmr_rerank(spark, sf_dir)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected
    # the pool max normalizes to exactly 1e6 and it is picked first
    assert got[0][2] == 1_000_000 and got[0][3] == 0


def test_mmr_rerank_planted_duplicate_is_skipped(spark, tmp_path):
    # plant a pool whose two highest-relevance docs are word-for-word
    # duplicates: plain relevance ranking returns both back-to-back,
    # MMR's round-2 penalty (sim = 1e6) must demote the copy below the
    # diverse-but-slightly-weaker doc
    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        q_mmr_rerank,
    )

    # identical tf/dl/df structure => all three docs share one BM25
    # score (rel = 1e6 each, ties by id); 0 and 1 are exact copies
    # (sim 1e6), 2 shares only the query terms (overlap 2/4 = 0.5)
    rows = [
        (0, "dup join alpha beta", "en", "s", 20),
        (1, "dup join alpha beta", "en", "s", 20),  # exact copy
        (2, "dup join gamma delta", "en", "s", 20),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = [
        (r.rank, r.doc_id)
        for r in q_mmr_rerank(spark, str(tmp_path)).orderBy("rank").collect()
    ]
    assert got[0][1] == 0  # best doc first (tie with 1 broken by id)
    assert got[1][1] == 2  # the DIVERSE doc, not the duplicate
    assert got[2][1] == 1  # the copy only after diversity is exhausted


def test_join_asof_nearest_planted_directions(spark, tmp_path):
    # events straddling orders: nearest must pick forward when the
    # after-order is closer, backward when before is closer, and
    # break exact-distance ties toward the EARLIER order
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        q_join_asof_nearest,
    )

    base = dt.datetime(2024, 6, 1, 12, 0, 0)

    def ts(**kw):
        return base + dt.timedelta(**kw)

    spark.createDataFrame(
        [
            (1, ts(), 7, "purchase", 1.0, "{}"),          # order 1h before, 30min after
            (2, ts(hours=10), 7, "purchase", 1.0, "{}"),  # only backward in range
            (3, ts(hours=5), 8, "purchase", 1.0, "{}"),   # exact tie both sides
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    spark.createDataFrame(
        [
            (100, 7, "O", 10.0, ts(hours=-1), "1-URGENT"),
            (101, 7, "O", 10.0, ts(minutes=30), "1-URGENT"),
            (102, 8, "O", 10.0, ts(hours=4), "1-URGENT"),
            (103, 8, "O", 10.0, ts(hours=6), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {
        r.event_id: (r.nearest_orderkey, r.gap_sec)
        for r in q_join_asof_nearest(spark, str(tmp_path)).collect()
    }
    assert got[1] == (101, 30 * 60)       # forward wins (30min < 1h)
    assert got[2] == (101, -(9 * 3600 + 30 * 60))  # backward only
    assert got[3] == (102, -3600)         # tie -> earlier order


def test_ts_interpolate_planted_gaps_and_no_extrapolation(spark, tmp_path):
    # knowns at hours 0 (sum 10.0) and 3 (sum 40.0) with a gap at 1-2:
    # linear fill gives 20.0 / 30.0 exactly; a second type observed
    # only once has no gap; buckets outside the observed range never
    # appear (spine is min..max per key)
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        q_ts_interpolate,
    )

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (1, base + dt.timedelta(minutes=5), 1, "click", 10.0, "{}"),
        (2, base + dt.timedelta(hours=3, minutes=9), 1, "click", 40.0, "{}"),
        (3, base + dt.timedelta(hours=1), 2, "view", 7.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        (r.event_type, r.bucket.hour): (r.n_events, r.interp_micro)
        for r in q_ts_interpolate(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("click", 0): (1, 10_000_000),
        ("click", 1): (0, 20_000_000),  # 10 + (40-10) * 1/3
        ("click", 2): (0, 30_000_000),
        ("click", 3): (1, 40_000_000),
        ("view", 1): (1, 7_000_000),
    }


def test_ts_interpolate_matches_pure_python_recompute(spark, sf_dir):
    # full-fixture recompute: hourly decimal sums -> spine -> linear
    # interpolation in plain Python, micro-rounded with the same
    # formula
    import datetime as dt
    from collections import defaultdict
    from decimal import Decimal

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        q_ts_interpolate,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).collect()
    hourly = defaultdict(lambda: [Decimal(0), 0])
    for r in rows:
        b = r.ts.replace(minute=0, second=0, microsecond=0)
        cell = hourly[(r.event_type, b)]
        cell[0] += Decimal(repr(r.value))
        cell[1] += 1
    sums = {
        k: float(
            v[0].quantize(Decimal("0.01"), rounding="ROUND_HALF_UP")
        )
        for k, v in hourly.items()
    }
    expected = {}
    for et in {k[0] for k in sums}:
        buckets = sorted(b for (e, b) in sums if e == et)
        lo, hi = buckets[0], buckets[-1]
        known = {b: sums[(et, b)] for b in buckets}
        b = lo
        while b <= hi:
            if b in known:
                expected[(et, b)] = (
                    hourly[(et, b)][1],
                    round(known[b] * 1e6),
                )
            else:
                pb = max(x for x in buckets if x < b)
                nb = min(x for x in buckets if x > b)
                pv, nv = known[pb], known[nb]
                frac = (b - pb).total_seconds() / (nb - pb).total_seconds()
                expected[(et, b)] = (0, round((pv + (nv - pv) * frac) * 1e6))
            b += dt.timedelta(hours=1)
    got = {
        (r.event_type, r.bucket): (r.n_events, r.interp_micro)
        for r in q_ts_interpolate(spark, sf_dir).collect()
    }
    assert got == expected


def test_privacy_erase_cascade_matches_pure_python(spark, sf_dir):
    # recompute the erase set and every cascade count in plain Python
    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        PRIVACY_ERASE_MOD,
        q_privacy_erase,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    cust = [
        r.c_custkey
        for r in load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .collect()
    ]
    erase = {c for c in cust if c % PRIVACY_ERASE_MOD == 0}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).collect()
    purged_orders = {r.o_orderkey for r in orders if r.o_custkey in erase}
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()
    ev = load_table(spark, sf_dir, "events").select("user_id").collect()
    expected = {
        "customer": (len(cust), len(erase)),
        "orders": (len(orders), sum(1 for r in orders if r.o_custkey in erase)),
        "lineitem": (
            len(li),
            sum(1 for r in li if r.l_orderkey in purged_orders),
        ),
        "events": (len(ev), sum(1 for r in ev if r.user_id in erase)),
    }
    got = {
        r.table_name: (r.n_total, r.n_purged)
        for r in q_privacy_erase(spark, sf_dir).collect()
    }
    assert got == expected
    # the cascade is real on this fixture: some lineitems purge even
    # though lineitem carries no customer key at all
    assert got["lineitem"][1] > 0
    # fractions are the pinned micro ratio
    for r in q_privacy_erase(spark, sf_dir).collect():
        assert r.purged_micro == round(1e6 * r.n_purged / r.n_total)


def test_feature_vector_encoding_contract(spark, sf_dir, tmp_path):
    # pinned vocabulary slots, exactly one hot bit, min-max endpoints
    # land on 0 / 1e6, and the zero-variance guard
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        FEATURE_PRIORITIES,
        q_feature_vector,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    rows = q_feature_vector(spark, sf_dir).collect()
    orders = {
        r.o_orderkey: r
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    prices = [o.o_totalprice for o in orders.values()]
    mn, mx = min(prices), max(prices)
    for r in rows[:200]:
        o = orders[r.o_orderkey]
        slots = r.priority_onehot.split(",")
        assert len(slots) == len(FEATURE_PRIORITIES)
        assert slots.count("1") == 1
        assert slots.index("1") == FEATURE_PRIORITIES.index(o.o_orderpriority)
        assert r.price_scaled_micro == round(
            1e6 * (o.o_totalprice - mn) / (mx - mn)
        )
        assert 1 <= r.dow <= 7
    by_price = sorted(rows, key=lambda r: r.price_scaled_micro)
    assert by_price[0].price_scaled_micro == 0
    assert by_price[-1].price_scaled_micro == 1_000_000

    # zero-variance numeric: all equal prices scale to 0, not a crash
    spark.createDataFrame(
        [(1, 1, "O", 5.0, dt.datetime(2024, 1, 7), "5-LOW"),
         (2, 1, "O", 5.0, dt.datetime(2024, 1, 8), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {r.o_orderkey: r for r in q_feature_vector(spark, str(tmp_path)).collect()}
    assert got[1].price_scaled_micro == 0 and got[2].price_scaled_micro == 0
    assert got[1].dow == 1  # 2024-01-07 is a Sunday -> Spark slot 1
    assert got[1].priority_onehot == "0,0,0,0,1"
    assert got[2].priority_onehot == "1,0,0,0,0"


def test_skew_report_matches_pure_python(spark, sf_dir):
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        SKEW_TOPK,
        q_skew_report,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    specs = [
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("lineitem", "l_orderkey"),
        ("events", "user_id"),
    ]
    expected = {}
    for table, key in specs:
        vals = [
            r[0]
            for r in load_table(spark, sf_dir, table).select(key).collect()
        ]
        c = Counter(vals)
        n_rows = len(vals)
        topk = sum(
            n for _, n in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:SKEW_TOPK]
        )
        expected[(table, key)] = (
            len(c),
            n_rows,
            max(c.values()),
            topk,
            round(1e6 * max(c.values()) / n_rows),
            round(1e6 * topk / n_rows),
        )
    got = {
        (r.table_name, r.key_col): (
            r.n_keys,
            r.n_rows,
            r.max_rows,
            r.topk_rows,
            r.max_share_micro,
            r.topk_share_micro,
        )
        for r in q_skew_report(spark, sf_dir).collect()
    }
    assert got == expected
    # sanity: shares are ordered and bounded
    for v in got.values():
        assert 0 < v[4] <= v[5] <= 1_000_000


def test_rolling_quantile_planted_band(spark, tmp_path):
    # hand-built per-user series [40, 10, 30, 20]: every frame is a
    # prefix (n <= W), so each quantile is the type-1 order statistic
    # at rank (qn*n + qd - 1) div qd of the sorted prefix — pins the
    # partial-window rank rule and the three-quantile band reading
    # from ONE sorted frame
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_rolling_quantile,
    )

    base = dt.datetime(2024, 1, 1)
    vals = [40.0, 10.0, 30.0, 20.0]
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {
        r.event_id: (r.n_window, r.p25_cents, r.p50_cents, r.p90_cents)
        for r in q_rolling_quantile(spark, str(tmp_path)).collect()
    }
    assert got[0] == (1, 4000, 4000, 4000)        # [40]
    assert got[1] == (2, 1000, 1000, 4000)        # [10,40]
    assert got[2] == (3, 1000, 3000, 4000)        # [10,30,40]
    assert got[3] == (4, 1000, 2000, 4000)        # [10,20,30,40]


def test_eval_mrr_planted_relevance(spark, tmp_path):
    # three equal-length docs for the single present term 'dup':
    # doc 1 has tf=3 but 'dup' only AFTER the title prefix (ranks
    # first, NOT relevant); docs 2/3 carry 'dup' in the prefix with
    # tf 2/1 (ranks 2/3, both relevant) -> first hit at rank 2,
    # RR = 0.5, recall@10 = 1, MRR = 0.5/4 over the fixed 4-term set
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_eval_mrr,
    )

    filler = ["x"] * 16

    def doc(puts):
        toks = list(filler)
        for pos in puts:
            toks[pos] = "dup"
        return " ".join(toks)

    rows = [
        (1, doc([12, 13, 14]), "en", "s", 10),
        (2, doc([0, 12]), "en", "s", 10),
        (3, doc([0]), "en", "s", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = q_eval_mrr(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0].query_term == "dup"
    r = out[0]
    assert (r.n_ranked, r.n_relevant, r.first_rel_rank) == (3, 2, 2)
    assert r.rr_micro == 500_000
    # the cutoff ladder: rank-1 doc is NOT relevant (recall@1 = 0);
    # both relevant docs sit at ranks 2-3, inside every larger cutoff
    assert (r.hits_at_1, r.recall_at_1_micro) == (0, 0)
    assert (r.hits_at_5, r.recall_at_5_micro) == (2, 1_000_000)
    assert (r.hits_at_10, r.recall_at_10_micro) == (2, 1_000_000)
    assert (r.hits_at_20, r.recall_at_20_micro) == (2, 1_000_000)
    assert r.mrr_micro == 125_000  # 0.5 / 4 fixed query terms


def test_schema_drift_report_verdicts_and_counts(spark, tmp_path):
    # four orders (two even-keyed -> batch v1, two odd-keyed -> v2):
    # pins every verdict class and the reconciliation counts — the
    # changed column counts ONLY v2 rows (v1 never silently coerced),
    # dropped counts v1, added counts v2, widened/unchanged count all
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_schema_drift_report,
    )

    d = dt.datetime(2024, 1, 1)
    rows = [
        (1, 10, "O", 100.0, d, "1-URGENT"),
        (2, 20, "F", 200.0, d, "2-HIGH"),
        (3, 30, "O", 300.0, d, "3-MEDIUM"),
        (4, 40, "P", 400.0, d, "5-LOW"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    got = {
        r.column_name: (r.t1, r.t2, r.verdict, r.n_nonnull)
        for r in q_schema_drift_report(spark, str(tmp_path)).collect()
    }
    assert got == {
        "o_orderkey": ("bigint", "bigint", "unchanged", 4),
        "o_custkey": ("int", "bigint", "widened", 4),
        "o_totalprice": ("float", "double", "widened", 4),
        "o_orderstatus": ("string", None, "dropped", 2),
        "o_orderpriority": ("string", "int", "changed", 2),
        "o_pri_len": (None, "bigint", "added", 2),
    }


def test_dedup_threshold_sweep_planted_curve(spark, tmp_path):
    # three docs with known exact Jaccards: doc3 == doc1 (J=1.0),
    # doc2 differs in the last word (J=0.6 against both) -> the curve
    # steps from 3 pairs / 2 dropped at tau<=60 to 1 pair / 1 dropped
    # at tau>=70; zero-pair thresholds would still report (none here)
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_dedup_threshold_sweep,
    )

    rows = [
        (1, "a b c d e f", "en", "s", 11),
        (2, "a b c d e g", "en", "s", 11),
        (3, "a b c d e f", "en", "s", 11),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.threshold_pct: (r.n_pairs, r.n_docs_dropped, r.n_docs,
                          r.drop_share_micro)
        for r in q_dedup_threshold_sweep(spark, str(tmp_path)).collect()
    }
    assert got[50] == (3, 2, 3, 666_667)
    assert got[60] == (3, 2, 3, 666_667)
    assert got[70] == (1, 1, 3, 333_333)
    assert got[80] == (1, 1, 3, 333_333)
    assert got[90] == (1, 1, 3, 333_333)


def test_alert_rate_spike_planted_baseline(spark, tmp_path):
    # 'click': 1 event in each of two hours, then 5 in the third ->
    # only the third alerts (5*2 > 2*2); the first bucket can never
    # alert (no baseline); a constant-rate type never alerts
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_alert_rate_spike,
    )

    base = dt.datetime(2024, 1, 1)

    def ev(eid, hour, minute, typ):
        return (eid, base + dt.timedelta(hours=hour, minutes=minute),
                1, typ, 1.0, "{}")

    rows = [
        ev(1, 0, 0, "click"),
        ev(2, 1, 0, "click"),
        *[ev(10 + i, 2, i, "click") for i in range(5)],
        ev(20, 0, 0, "view"),
        ev(21, 1, 0, "view"),
        ev(22, 2, 0, "view"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {
        (r.event_type, r.bucket_ts.hour): (r.n_events, r.base_n,
                                           r.base_sum, r.alert)
        for r in q_alert_rate_spike(spark, str(tmp_path)).collect()
    }
    assert got[("click", 0)] == (1, 0, 0, False)   # no baseline yet
    assert got[("click", 1)] == (1, 1, 1, False)   # 1*1 <= 2*1
    assert got[("click", 2)] == (5, 2, 2, True)    # 5*2 > 2*2
    assert all(not v[3] for k, v in got.items() if k[0] == "view")


def test_eval_mrr_scale_matches_window_formulation(spark, sf_dir):
    # the window-free 100 TB formulation must be row-identical to the
    # graded window lane (they share one oracle; this pins the Spark-
    # side equivalence directly, including tie handling via the
    # struct-encoded (micro desc, doc_id asc) order)
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_eval_mrr,
        q_eval_mrr_scale,
    )

    a = sorted(map(tuple, q_eval_mrr(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_eval_mrr_scale(spark, sf_dir).collect()))
    assert a == b


def test_bpe_fertility_planted_single_char_words(spark, tmp_path):
    # single-character words admit no pairs, so BPE learns nothing and
    # every word is exactly one token: fertility = 1.0 and chars/token
    # = 1.0 in micros for every language; volumes pin the per-language
    # split (en: 2 docs / 5 words, fr: 1 doc / 2 words)
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_bpe_fertility,
    )

    rows = [
        (1, "a b a", "en", "s", 5),
        (2, "b a", "en", "s", 3),
        (3, "c c", "fr", "s", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.lang: (r.n_docs, r.n_words, r.n_chars, r.n_bpe_tokens,
                 r.fertility_micro, r.chars_per_token_micro)
        for r in q_bpe_fertility(spark, str(tmp_path)).collect()
    }
    assert got == {
        "en": (2, 5, 5, 5, 1_000_000, 1_000_000),
        "fr": (1, 2, 2, 2, 1_000_000, 1_000_000),
    }


def test_compaction_plan_planted_sorted_fill(spark, tmp_path):
    # sizes [3000, 2000, 1500, 100] against the 4096-byte target pack
    # as: 3000 (cum 0 -> g0), 2000 (cum 3000 -> g0), 1500 (cum 5000 ->
    # g1), 100 (cum 6500 -> g1) — pins the largest-first order, the
    # div-target group rule, and the fill shares
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_compaction_plan,
    )

    rows = [
        (1, "x", "en", "src_a", 3000),
        (2, "x", "en", "src_a", 2000),
        (3, "x", "en", "src_a", 1500),
        (4, "x", "en", "src_a", 100),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.group_id: (r.n_files, r.group_bytes, r.fill_micro)
        for r in q_compaction_plan(spark, str(tmp_path)).collect()
    }
    assert got == {
        0: (2, 5000, 1_220_703),   # 5000/4096 = 1.2207031...
        1: (2, 1600, 390_625),     # 1600/4096 = 0.390625
    }


def test_privacy_ldiv_planted_disclosure_class(spark, tmp_path):
    # two QI classes: class A's four orders all share one priority
    # (lv=1 -> attribute disclosure, violates l=2); class B's two
    # orders carry two distinct priorities (lv=2, compliant)
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_privacy_ldiv,
    )

    cust = [
        (1, "a", 1, 100.0, "AUTO"),   # class A
        (2, "b", 1, 100.0, "AUTO"),   # class A (same QI)
        (3, "c", 2, 100.0, "FURN"),   # class B
    ]
    spark.createDataFrame(
        cust, "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    d = dt.datetime(2024, 1, 1)
    orders = [
        (10, 1, "O", 1.0, d, "1-URGENT"),
        (11, 1, "O", 1.0, d, "1-URGENT"),
        (12, 2, "O", 1.0, d, "1-URGENT"),
        (13, 2, "O", 1.0, d, "1-URGENT"),
        (14, 3, "O", 1.0, d, "1-URGENT"),
        (15, 3, "O", 1.0, d, "5-LOW"),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    got = {
        r.l_band: (r.n_classes, r.n_rows, r.violates_l)
        for r in q_privacy_ldiv(spark, str(tmp_path)).collect()
    }
    assert got == {
        "1": (1, 4, True),
        "2": (1, 2, False),
    }


def test_eval_regression_planted_metrics(spark, tmp_path):
    # profile: train clicks at hour 0 average 10.00 -> pred 1000 cents;
    # holdout errors (0, +300, -300) cents pin bias 0, MAE $2.00,
    # RMSE sqrt(60000) cents, and R^2 = 0 (SS_res == SS_tot: the model
    # exactly ties predicting the holdout mean here)
    import datetime as dt
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        FC_PIVOT_TS,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_eval_regression,
    )

    pivot = dt.datetime.fromisoformat(FC_PIVOT_TS)
    tr = pivot - dt.timedelta(days=2)   # hour 0
    ho = pivot + dt.timedelta(days=1)   # hour 0
    rows = [
        (1, tr, 1, "click", 8.00, "{}"),
        (2, tr, 1, "click", 12.00, "{}"),   # train mean = 10.00
        (3, ho, 1, "click", 10.00, "{}"),   # err 0
        (4, ho, 1, "click", 13.00, "{}"),   # err +300 cents
        (5, ho, 1, "click", 7.00, "{}"),    # err -300 cents
        (6, ho + dt.timedelta(hours=5), 1, "click", 1.0, "{}"),  # uncovered
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = {r.event_type: r for r in q_eval_regression(spark, str(tmp_path)).collect()}
    r = out["click"]
    assert r.n_scored == 3  # the uncovered-hour event is not scored
    assert r.bias_micro == 0
    assert r.mae_micro == 200_000_000          # 200 cents = $2.00
    assert r.rmse_micro == round(1_000_000 * math.sqrt(60_000))
    assert r.r2_micro == 0


def test_dedup_cluster_stats_planted_histogram(spark, tmp_path):
    # planted components: {1,2,3} (identical vectors, size 3), {4,5}
    # (identical, size 2), and two singletons (6 alone in its label;
    # 7 orthogonal to 4,5 inside label 2) — pins the histogram rows,
    # the keep-one drop counts, and the micro corpus shares
    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_dedup_cluster_stats,
    )

    rows = [
        (1, [1.0, 0.0], 1),
        (2, [1.0, 0.0], 1),
        (3, [1.0, 0.0], 1),
        (4, [0.0, 1.0], 2),
        (5, [0.0, 1.0], 2),
        (6, [1.0, 1.0], 3),
        (7, [1.0, 0.0], 2),  # cos vs 4,5 = 0 < 0.3: singleton
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {
        r.cluster_size: (
            r.n_clusters, r.n_rows, r.n_redundant, r.row_share_micro
        )
        for r in q_dedup_cluster_stats(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2, 2, 0, 285714),   # 2/7
        2: (1, 2, 1, 285714),   # 2/7
        3: (1, 3, 2, 428571),   # 3/7
    }


def test_corr_spearman_planted_ties_and_zero_variance(spark, tmp_path):
    # segment S: customers (x=2,y=300), (x=2,y=100), (x=1,y=200),
    # (x=3,y=400) — the x=2 tie pins average-rank handling; exact
    # double-ranks give rho = 48/sqrt(72*80) -> micro 632456 and
    # sum_d2 = 14 (hand-computed in the module's terms).
    # segment Z: two customers with x=1 each — zero rank variance in
    # x -> rho NULL, sum_d2 = 2 (dry 2 vs 4, drx 3,3)
    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_corr_spearman,
    )

    cust = [
        (1, "a", 1, 0.0, "S"),
        (2, "b", 1, 0.0, "S"),
        (3, "c", 1, 0.0, "S"),
        (4, "d", 1, 0.0, "S"),
        (5, "e", 1, 0.0, "Z"),
        (6, "f", 1, 0.0, "Z"),
    ]
    spark.createDataFrame(
        cust, "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    import datetime as dt

    d = dt.datetime(2024, 1, 1)
    orders = [
        # custkey, totalprice; y = sum(cents), x = row count
        (10, 1, "O", 1.50, d, "p"), (11, 1, "O", 1.50, d, "p"),  # (2, 300)
        (12, 2, "O", 0.50, d, "p"), (13, 2, "O", 0.50, d, "p"),  # (2, 100)
        (14, 3, "O", 2.00, d, "p"),                               # (1, 200)
        (15, 4, "O", 1.00, d, "p"), (16, 4, "O", 1.00, d, "p"),
        (17, 4, "O", 2.00, d, "p"),                               # (3, 400)
        (18, 5, "O", 0.10, d, "p"),                               # (1, 10)
        (19, 6, "O", 0.20, d, "p"),                               # (1, 20)
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    got = {
        r.c_mktsegment: (r.n_customers, r.sum_d2, r.rho_spearman)
        for r in q_corr_spearman(spark, str(tmp_path)).collect()
    }
    assert got["S"] == (4, 14, 0.632456)
    assert got["Z"] == (2, 2, None)


def test_trend_linfit_planted_line_and_degenerate_groups(spark, tmp_path):
    # type "up": counts 1,2,3 on days 0,1,2 -> slope 1.0, intercept
    # 1.0, perfect fit r2 = 1e6; type "one": a single day -> no line
    # (all NULL); type "flat": 2,2 on two days -> slope 0, intercept
    # 2, r2 NULL (zero y variance)
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_trend_linfit,
    )

    d0 = dt.datetime(2024, 1, 1, 12)
    rows = []
    eid = 0
    for day, n in ((0, 1), (1, 2), (2, 3)):
        for _ in range(n):
            eid += 1
            rows.append((eid, d0 + dt.timedelta(days=day), 1, "up", 1.0, "{}"))
    eid += 1
    rows.append((eid, d0, 1, "one", 1.0, "{}"))
    for day in (0, 1):
        for _ in range(2):
            eid += 1
            rows.append((eid, d0 + dt.timedelta(days=day), 1, "flat", 1.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {
        r.event_type: (r.n_days, r.slope_per_day, r.intercept_day0, r.r2_micro)
        for r in q_trend_linfit(spark, str(tmp_path)).collect()
    }
    assert got["up"] == (3, 1.0, 1.0, 1_000_000)
    assert got["one"] == (1, None, None, None)
    assert got["flat"] == (2, 0.0, 2.0, None)


def test_anova_oneway_planted_f_statistic(spark, tmp_path):
    # group A dollars {1,2,3} (via half-up cents: 0.60->1, 2.00->2,
    # 3.49->3), group B {4,5,6} (3.50->4 pins the .50 half-up) ->
    # t_A=12, t_B=75, grand=round(441/6)=74, ssb=13, ssw=4,
    # F=(13/1)/(4/4)=13.0
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_anova_oneway,
    )

    d = dt.datetime(2024, 1, 1)
    prices = [("A", 0.60), ("A", 2.00), ("A", 3.49),
              ("B", 3.50), ("B", 5.00), ("B", 5.71)]
    rows = [
        (i, 1, "O", p, d, grp) for i, (grp, p) in enumerate(prices)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    got = {
        r.o_orderpriority: (
            r.n_orders, r.mean_dollar, r.ssb_unit, r.ssw_unit,
            r.df_between, r.df_within, r.f_stat,
        )
        for r in q_anova_oneway(spark, str(tmp_path)).collect()
    }
    assert got == {
        "A": (3, 2.0, 13, 4, 1, 4, 13.0),
        "B": (3, 5.0, 13, 4, 1, 4, 13.0),
    }


def test_rank_mannwhitney_planted_u_and_ties(spark, tmp_path):
    # urgent spends {10,20,20}, other {20,30}: pooled avg ranks
    # (1, 3,3,3, 5) -> R1=7, U1 = 7 - 3*4/2 = 1 (pair count: two
    # half-ties) -> u_x2=2, AUC = 1/6 -> micro 166667
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_rank_mannwhitney,
    )

    d = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, "O", 10.0, d, "1-URGENT"),
        (2, 1, "O", 20.0, d, "2-HIGH"),
        (3, 1, "O", 20.0, d, "1-URGENT"),
        (4, 1, "O", 20.0, d, "3-MEDIUM"),
        (5, 1, "O", 30.0, d, "5-LOW"),
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    r, = q_rank_mannwhitney(spark, str(tmp_path)).collect()
    assert (r.n_urgent, r.n_other, r.u_x2, r.auc_micro) == (3, 2, 2, 166667)


def test_quantile_weighted_planted_cutoffs(spark, tmp_path):
    # prices 10 (weight 1), 20 (weight 2), 30 (weight 1): W=4 ->
    # p25 crosses at 10 (cumw 1), p50 at 20 (cumw 3), p90 at 30
    # (360 > 300 = 100*cumw(20), 400 >= 360)
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_quantile_weighted,
    )

    d = dt.datetime(2024, 1, 1)
    orders = [
        (1, 1, "O", 10.0, d, "p"),
        (2, 1, "O", 20.0, d, "p"),
        (3, 1, "O", 30.0, d, "p"),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    li = [(1, 101), (2, 102), (2, 103), (3, 104)]
    spark.createDataFrame(
        li, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r.pct: (r.w_total, r.cutoff_price, r.cumw_at_cutoff)
        for r in q_quantile_weighted(spark, str(tmp_path)).collect()
    }
    assert got == {
        25: (4, 10.0, 1),
        50: (4, 20.0, 3),
        90: (4, 30.0, 4),
    }


def test_gini_concentration_planted_identity(spark, tmp_path):
    # source A lengths {1,1,2}: pairwise |diffs| sum to 4 (both
    # orders) -> G = 4/(2*3*4) -> micro 166667, mean gap 4/9 ->
    # 444444; single-doc source B is a true G=0; all-zero source C is
    # undefined (NULL gini) but gap 0
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_gini_concentration,
    )

    rows = [
        (1, "x", "en", "A", 1),
        (2, "x", "en", "A", 1),
        (3, "x", "en", "A", 2),
        (4, "x", "en", "B", 5),
        (5, "x", "en", "C", 0),
        (6, "x", "en", "C", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.source: (r.n_docs, r.total_chars, r.delta, r.gini_micro,
                   r.mean_gap_micro)
        for r in q_gini_concentration(spark, str(tmp_path)).collect()
    }
    assert got == {
        "A": (3, 4, 4, 166667, 444444),
        "B": (1, 5, 0, 0, 0),
        "C": (2, 0, 0, None, 0),
    }


def test_dedup_containment_planted_quote(spark, tmp_path):
    # doc 1's three shingles all appear in doc 2 (a quote inside a
    # longer page): containment 1.0 even though Jaccard is only 3/5;
    # doc 3 shares nothing; doc 4 shares 1 of its 5 shingles with
    # doc 2 (0.2 < 0.8, dropped)
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        q_dedup_containment,
    )

    rows = [
        (1, "a b c d e", "en", "s", 9),
        (2, "a b c d e f g", "en", "s", 13),
        (3, "x y z w", "en", "s", 7),
        (4, "a b c q r s t", "en", "s", 13),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        (r.doc_a, r.doc_b): (r.na, r.nb, r.inter, r.containment)
        for r in q_dedup_containment(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2): (3, 5, 3, 1.0)}


def test_eval_cohen_kappa_planted_table_and_degenerate(spark, tmp_path):
    # lang x: one doc in each 2x2 cell -> po = 0.5, chance agreement
    # also 0.5 -> kappa exactly 0; lang z: both raters keep everything
    # -> pe = 1, kappa undefined (NULL), po = 1.0
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_eval_cohen_kappa,
    )

    w50 = " ".join(["w"] * 50)
    w49 = " ".join(["w"] * 49)
    rows = [
        (1, w50, "x", "s", 300),   # A keep, B keep
        (2, w50, "x", "s", 299),   # A drop, B keep
        (3, w49, "x", "s", 300),   # A keep, B drop
        (4, "w w", "x", "s", 100),  # A drop, B drop
        (5, w50, "z", "s", 300),
        (6, w50, "z", "s", 301),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.lang: (r.n_docs, r.n11, r.n10, r.n01, r.n00, r.po_micro,
                 r.kappa_micro)
        for r in q_eval_cohen_kappa(spark, str(tmp_path)).collect()
    }
    assert got == {
        "x": (4, 1, 1, 1, 1, 500_000, 0),
        "z": (2, 2, 0, 0, 0, 1_000_000, None),
    }


def test_privacy_tcloseness_planted_bands(spark, tmp_path):
    # three single-customer QI classes against a P1x3/P2x1/P3x2
    # global: class B (P1+P2) has D=8 -> d=8/24 -> 't<=0.35', micro
    # 333333; class A (P1x2) has D=12 (d=0.5) and class C (P3x2) has
    # D=16 (d=2/3, the band worst) -> both 't>0.35', violating;
    # absent-value mass is part of D by construction
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_privacy_tcloseness,
    )

    cust = [
        (1, "a", 1, 0.0, "S"),
        (2, "b", 2, 0.0, "S"),
        (3, "c", 3, 0.0, "S"),
    ]
    spark.createDataFrame(
        cust, "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    d = dt.datetime(2024, 1, 1)
    orders = [
        (10, 1, "O", 1.0, d, "1-URGENT"),
        (11, 1, "O", 1.0, d, "1-URGENT"),
        (12, 2, "O", 1.0, d, "1-URGENT"),
        (13, 2, "O", 1.0, d, "2-HIGH"),
        (14, 3, "O", 1.0, d, "5-LOW"),
        (15, 3, "O", 1.0, d, "5-LOW"),
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    got = {
        r.t_band: (r.n_classes, r.n_rows, r.worst_t_micro, r.violates_t)
        for r in q_privacy_tcloseness(spark, str(tmp_path)).collect()
    }
    assert got == {
        "t<=0.35": (1, 2, 333333, False),
        "t>0.35": (2, 4, 666667, True),
    }


def test_graph_assortativity_matches_python_recompute(spark, tmp_path):
    # deterministic 2-block fixture; the replay recomputes the k-NN
    # edges (cos desc, dst asc, k=KNN_K), the in-degrees (0 for
    # never-targeted sources), and the half-up Pearson micro — the
    # operator must match exactly
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        q_graph_assortativity,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import KNN_K

    vecs = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),
        (2, [0.5, 0.5], 1),
        (3, [0.0, 1.0], 1),
        (4, [-0.4, 0.9], 1),
        (5, [1.0, 1.0], 2),
        (6, [1.0, 0.9], 2),
        (7, [0.2, 1.0], 2),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    edges = []
    for src, ea, lab in vecs:
        cands = sorted(
            (
                (-cos(ea, eb), dst)
                for dst, eb, lab2 in vecs
                if lab2 == lab and dst != src
            ),
        )[:KNN_K]
        edges += [(src, dst) for _, dst in cands]
    indeg = Counter(d for _, d in edges)
    xs = [indeg.get(s, 0) for s, _ in edges]
    ys = [indeg[d] for _, d in edges]
    n = len(edges)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    if vx == 0 or vy == 0:
        expected = None
    else:
        v = float(num) / math.sqrt(float(vx) * float(vy)) * 1_000_000
        expected = int(
            Decimal(repr(v)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        ) / 1e6

    r, = q_graph_assortativity(spark, str(tmp_path)).collect()
    assert r.n_edges == n
    assert r.assortativity == expected


def test_graph_modularity_two_block_graph(spark, tmp_path):
    # two label-blocked K4 cliques (KNN_K = 3 -> every node reaches
    # all 3 same-label peers; symmetrized+canonicalized = complete
    # blocks). Synchronous LPA converges to one community per block
    # (min node id) by round 2: round 1 sends node 0 to label 1 and
    # everyone else to 0 (all-tie -> smallest), round 2 sends all to
    # 0. Exact modularity: m = 12, per block l_c = 6, d_c = 12 ->
    # contrib = (4*12*6 - 144)/576 = 0.25 each, Q = 0.5.
    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        q_graph_modularity,
    )

    vecs = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),
        (2, [0.8, 0.2], 1),
        (3, [0.7, 0.3], 1),
        (4, [0.0, 1.0], 2),
        (5, [0.1, 0.9], 2),
        (6, [0.2, 0.8], 2),
        (7, [0.3, 0.7], 2),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {
        r.community: (
            r.n_nodes,
            r.intra_edges,
            r.degree_sum,
            r.m_edges,
            r.contrib_micro,
            r.modularity_micro,
        )
        for r in q_graph_modularity(spark, str(tmp_path)).collect()
    }
    assert got == {
        0: (4, 6, 12, 12, 250_000, 500_000),
        4: (4, 6, 12, 12, 250_000, 500_000),
    }


def test_text_yule_k_planted_spectrum(spark, tmp_path):
    # lang "x": frequencies 4/2/1 -> N=7, S2=21,
    # K = 1e4*(21-7)/49 = 2857.142857 -> 2_857_142_857 micro;
    # Simpson = 14/(7*6) = 1/3 -> 333_333 micro.
    # lang "y": a single token -> N=1, S2=1 -> K = 0 exactly and no
    # pair exists -> NULL repeat rate.
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_text_yule_k,
    )

    rows = [
        (1, "a a a a b b c", "x", "s", 13),
        (2, "solo", "y", "s", 4),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.lang: r for r in q_text_yule_k(spark, str(tmp_path)).collect()}
    x = out["x"]
    assert (x.n_tokens, x.n_types, x.s2) == (7, 3, 21)
    assert x.yule_k_micro == 2_857_142_857
    assert x.simpson_micro == 333_333
    y = out["y"]
    assert (y.n_tokens, y.n_types, y.s2) == (1, 1, 1)
    assert y.yule_k_micro == 0 and y.simpson_micro is None


def test_text_yule_k_matches_textbook_recompute(spark, sf_dir):
    # independent recompute of K and the Simpson rate from raw
    # per-language word frequencies on the real fixture — guards the
    # S2/N moment algebra and the pinned rounding.
    import math
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_text_yule_k,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.lang: r for r in q_text_yule_k(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "text"
    ).collect()
    freqs: dict = {}
    for row in docs:
        c = freqs.setdefault(row.lang, Counter())
        c.update(w for w in row.text.lower().split(" ") if w)
    for lang, c in freqs.items():
        n = sum(c.values())
        s2 = sum(f * f for f in c.values())
        k = 1e10 * float(s2 - n) / (float(n) * float(n))
        assert lane[lang].yule_k_micro == int(math.floor(k + 0.5)), lang
        if n >= 2:
            r = 1e6 * float(s2 - n) / (float(n) * float(n - 1))
            assert lane[lang].simpson_micro == int(math.floor(r + 0.5)), lang
        assert (lane[lang].n_tokens, lane[lang].n_types) == (n, len(c))


def test_len_lognormal_fit_planted_moments(spark, tmp_path):
    # lang "x": n_chars 2/2/8/8 -> x = 1e6/1e6/3e6/3e6 micro-log2,
    # mean = 2e6, V = 4*20e12 - 64e12 = 16e12 -> sigma = 1e6; band
    # [1e6, 3e6] is INCLUSIVE so all four docs sit within -> 1e6.
    # The n_chars = 0 doc is dropped from both phases; lang "y" is
    # the degenerate single doc (sigma = 0, band [x, x], within 1).
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_len_lognormal_fit,
    )

    rows = [
        (1, "aa", "x", "s", 2),
        (2, "bb", "x", "s", 2),
        (3, "cccccccc", "x", "s", 8),
        (4, "dddddddd", "x", "s", 8),
        (5, "", "x", "s", 0),        # dropped: no log-length
        (6, "pppp", "y", "s", 4),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.lang: r
           for r in q_len_lognormal_fit(spark, str(tmp_path)).collect()}
    x = out["x"]
    assert (x.n_docs, x.mean_log2_micro, x.std_log2_micro) == (
        4, 2_000_000, 1_000_000
    )
    assert (x.n_within, x.within_1sd_micro) == (4, 1_000_000)
    y = out["y"]
    assert (y.n_docs, y.mean_log2_micro, y.std_log2_micro) == (
        1, 2_000_000, 0
    )
    assert (y.n_within, y.within_1sd_micro) == (1, 1_000_000)


def test_word_adaptation_planted_burst(spark, tmp_path):
    # docs "a a b", "a a b", "a b": word a repeats in 2 of its 3 docs
    # -> cf=5, df=3, df2=2, adaptation = 2/3 -> 666667 micro; word b
    # never repeats -> cf=3, df=3, df2=0, adaptation 0. The bursty
    # word and the non-bursty word have the SAME df — only the
    # within-doc repetition separates them, which is the statistic.
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_word_adaptation,
    )

    rows = [
        (1, "a a b", "en", "s", 5),
        (2, "a a b", "en", "s", 5),
        (3, "a b", "en", "s", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.word: r for r in q_word_adaptation(spark, str(tmp_path)).collect()}
    a, b = out["a"], out["b"]
    assert (a.cf, a.df, a.df2, a.adaptation_micro) == (5, 3, 2, 666_667)
    assert (b.cf, b.df, b.df2, b.adaptation_micro) == (3, 3, 0, 0)


def test_text_mattr_planted_windows(spark, tmp_path):
    # W = 25. doc 1: exactly 25 distinct tokens -> 1 window, MATTR 1.
    # doc 2: 26 x the same token -> 2 windows of distinct 1 -> 2/50.
    # doc 3: 25 distinct + a repeat of the FIRST token appended ->
    #   window 2 still has 25 distinct (t0 left, t0 re-entered) -> 1.
    # doc 4: 25 distinct + a repeat of the SECOND token appended ->
    #   window 2 has 24 distinct (t1 still inside) -> 49/50.
    # doc 5: 24 tokens -> no full window -> dropped from the output.
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_text_mattr,
    )

    d25 = " ".join(f"t{i}" for i in range(25))
    rows = [
        (1, d25, "en", "s", 1),
        (2, " ".join(["x"] * 26), "en", "s", 1),
        (3, d25 + " t0", "en", "s", 1),
        (4, d25 + " t1", "en", "s", 1),
        (5, " ".join(f"u{i}" for i in range(24)), "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.doc_id: r for r in q_text_mattr(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].n_windows, out[1].distinct_sum,
            out[1].mattr_micro) == (1, 25, 1_000_000)
    assert (out[2].n_windows, out[2].distinct_sum,
            out[2].mattr_micro) == (2, 2, 40_000)
    assert (out[3].n_windows, out[3].distinct_sum,
            out[3].mattr_micro) == (2, 50, 1_000_000)
    assert (out[4].n_windows, out[4].distinct_sum,
            out[4].mattr_micro) == (2, 49, 980_000)


def test_bootstrap_ci_mean_matches_python_recompute(spark, sf_dir):
    # full deterministic recompute: md5-derived Poisson(1) weights per
    # (order, replicate), weighted replicate means, type-1 rank
    # selection — the lane must match hashlib + pure Python exactly,
    # and the plain mean must sit inside its own CI.
    import hashlib
    import math

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BOOT_B,
        _POIS_CUM,
        q_bootstrap_ci_mean,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.status: r for r in q_bootstrap_ci_mean(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).collect()

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    by: dict = {}
    for r in orders:
        cents = half_away(r.o_totalprice * 100)
        by.setdefault(r.o_orderstatus, []).append((r.o_orderkey, cents))
    for status, rows in by.items():
        means = []
        for b in range(BOOT_B):
            sw = swc = 0
            for key, cents in rows:
                u = hashlib.md5(f"{key}:{b}".encode()).hexdigest()[:8]
                w = next(
                    (k for k, t in enumerate(_POIS_CUM) if u < t), 8
                )
                sw += w
                swc += w * cents
            if sw:
                # the lane's exact midpoint-free half-up integer
                # division — pure int arithmetic, no floats (ADVICE
                # r12: 10⁴·swc crosses 2^53 at bench scale)
                means.append(((2 * 10**4 * swc + sw) // (2 * sw), b))
        means.sort()
        assert lane[status].n_replicates == len(means)
        n = len(means)
        assert lane[status].ci_lo_micro == means[(25 * n + 999) // 1000 - 1][0]
        assert lane[status].ci_hi_micro == means[(975 * n + 999) // 1000 - 1][0]
        # the CI must bracket the plain (unweighted) mean
        sc, n = sum(c for _, c in rows), len(rows)
        plain = (2 * 10**4 * sc + n) // (2 * n)
        assert lane[status].ci_lo_micro <= plain <= lane[status].ci_hi_micro


def test_bootstrap_ci_deterministic_and_layout_free(spark, tmp_path):
    # the same five orders written in two different row orders and
    # partitionings must produce the IDENTICAL CI rows — no rand(),
    # no layout dependence (the sample_split guarantee, extended to
    # the whole resampling procedure).
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        q_bootstrap_ci_mean,
    )

    rows = [
        (1, 1, "O", "100.00"), (2, 1, "O", "200.00"),
        (3, 1, "O", "300.00"), (4, 1, "O", "150.00"),
        (5, 1, "O", "250.00"),
    ]

    def write(order, parts, d):
        spark.createDataFrame(
            [rows[i] for i in order],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice_s string",
        ).selectExpr(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "CAST(o_totalprice_s AS DOUBLE) AS o_totalprice",
        ).repartition(parts).write.parquet(f"{d}/orders.parquet")

    write([0, 1, 2, 3, 4], 1, f"{tmp_path}/a")
    write([4, 2, 0, 3, 1], 3, f"{tmp_path}/b")
    a = sorted(map(tuple, q_bootstrap_ci_mean(spark, f"{tmp_path}/a").collect()))
    b = sorted(map(tuple, q_bootstrap_ci_mean(spark, f"{tmp_path}/b").collect()))
    assert a == b and len(a) == 1
    # CI inside the data range, around the true mean 200
    _, n_rep, lo, hi = a[0]
    assert n_rep == 40 and 100 * 10**6 <= lo <= hi <= 300 * 10**6


def test_bootstrap_ci_ratio_matches_python_recompute(spark, sf_dir):
    # hashlib recompute of the salted weight stream + replicate
    # shares + rank selection; the CI must bracket the plain share.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BOOT_B,
        _POIS_CUM,
        q_bootstrap_ci_ratio,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.status: r
            for r in q_bootstrap_ci_ratio(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    ).collect()

    by: dict = {}
    for r in orders:
        by.setdefault(r.o_orderstatus, []).append(
            (r.o_orderkey, 1 if r.o_orderpriority == "1-URGENT" else 0)
        )
    for status, rows in by.items():
        shares = []
        for b in range(BOOT_B):
            sw = swu = 0
            for key, u in rows:
                h = hashlib.md5(f"r:{key}:{b}".encode()).hexdigest()[:8]
                w = next((k for k, t in enumerate(_POIS_CUM) if h < t), 8)
                sw += w
                swu += w * u
            if sw:
                # exact half-up integer division, matching the lane
                shares.append(((2 * 10**6 * swu + sw) // (2 * sw), b))
        shares.sort()
        ln = lane[status]
        assert ln.n_replicates == len(shares)
        n = len(shares)
        assert ln.ci_lo_micro == shares[(25 * n + 999) // 1000 - 1][0]
        assert ln.ci_hi_micro == shares[(975 * n + 999) // 1000 - 1][0]
        n_urgent = sum(u for _, u in rows)
        n = len(rows)
        assert (ln.n_orders, ln.n_urgent) == (n, n_urgent)
        assert ln.share_micro == (2 * 10**6 * n_urgent + n) // (2 * n)
        assert ln.ci_lo_micro <= ln.share_micro <= ln.ci_hi_micro
    # independence of the two bootstrap lanes' weight streams: the
    # salted hash differs from the mean lane's for the same (key, b)
    assert (
        hashlib.md5(b"r:1:0").hexdigest()
        != hashlib.md5(b"1:0").hexdigest()
    )


def test_bootstrap_ci_quantile_matches_python_recompute(spark, sf_dir):
    # hashlib recompute of the q:-salted weight stream + per-replicate
    # WEIGHTED type-1 medians + rank selection; the plain type-1
    # median recomputed from the sorted cents directly.
    import hashlib
    import math

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BOOT_B,
        _POIS_CUM,
        q_bootstrap_ci_quantile,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.status: r
            for r in q_bootstrap_ci_quantile(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).collect()

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    by: dict = {}
    for r in orders:
        by.setdefault(r.o_orderstatus, []).append(
            (r.o_orderkey, half_away(r.o_totalprice * 100))
        )
    for status, rows in by.items():
        srt = sorted(c for _, c in rows)
        n = len(srt)
        plain = srt[(n + 1) // 2 - 1]  # type-1 median, 1-based rank
        meds = []
        for b in range(BOOT_B):
            wts = {}
            sw = 0
            for key, cents in rows:
                u = hashlib.md5(f"q:{key}:{b}".encode()).hexdigest()[:8]
                w = next((k for k, t in enumerate(_POIS_CUM) if u < t), 8)
                wts[cents] = wts.get(cents, 0) + w
                sw += w
            if sw == 0:
                continue
            thr = (sw + 1) // 2
            cw = 0
            for c in sorted(wts):
                cw += wts[c]
                if cw >= thr:
                    meds.append((c, b))
                    break
        meds.sort()
        ln = lane[status]
        assert (ln.n_orders, ln.median_cents) == (n, plain)
        assert ln.n_replicates == len(meds)
        n = len(meds)
        assert ln.ci_lo_cents == meds[(25 * n + 999) // 1000 - 1][0]
        assert ln.ci_hi_cents == meds[(975 * n + 999) // 1000 - 1][0]
        assert ln.ci_lo_cents <= ln.ci_hi_cents
    # the q: salt makes this stream independent of the mean/ratio ones
    assert (
        hashlib.md5(b"q:1:0").hexdigest()
        != hashlib.md5(b"1:0").hexdigest()
        != hashlib.md5(b"r:1:0").hexdigest()
    )


def test_bootstrap_ci_quantile_planted_ties_and_layouts(spark, tmp_path):
    # the histogram path with VALUE TIES and an even count: plain
    # type-1 median of [100,100,100,200,200] is the ceil(5/2)=3rd
    # value = 100 (the tie group crosses the threshold inside the
    # histogram row); of [100,200,300,400] it is the 2nd = 200 (the
    # LOWER median — type-1 picks, never interpolates). Two write
    # layouts must give identical CI rows (layout-free resampling).
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        q_bootstrap_ci_quantile,
    )

    rows = [
        (1, 1, "T", "1.00"), (2, 1, "T", "1.00"), (3, 1, "T", "1.00"),
        (4, 1, "T", "2.00"), (5, 1, "T", "2.00"),
        (6, 1, "E", "1.00"), (7, 1, "E", "2.00"),
        (8, 1, "E", "3.00"), (9, 1, "E", "4.00"),
    ]

    def write(order, parts, d):
        spark.createDataFrame(
            [rows[i] for i in order],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice_s string",
        ).selectExpr(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "CAST(o_totalprice_s AS DOUBLE) AS o_totalprice",
        ).repartition(parts).write.parquet(f"{d}/orders.parquet")

    write(list(range(9)), 1, f"{tmp_path}/a")
    write([8, 3, 0, 6, 2, 7, 1, 5, 4], 3, f"{tmp_path}/b")
    a = sorted(map(tuple,
                   q_bootstrap_ci_quantile(spark, f"{tmp_path}/a").collect()))
    b = sorted(map(tuple,
                   q_bootstrap_ci_quantile(spark, f"{tmp_path}/b").collect()))
    assert a == b and len(a) == 2
    by = {r[0]: r for r in a}
    # (status, n_orders, median_cents, n_replicates, lo, hi)
    assert by["T"][1:3] == (5, 100)
    assert by["E"][1:3] == (4, 200)
    for _, _, med, n_rep, lo, hi in a:
        # tiny groups CAN draw an all-zero replicate (P = e^-n per
        # replicate); the sw = 0 guard excludes it and n_replicates
        # reports the effective count. ADVICE r13: the rank selection
        # scales to that count — ceil(.025·n)/ceil(.975·n) — so a
        # short window (n < 40) still yields BOTH bounds, never the
        # NULL-hi/min-lo degenerate interval fixed rank 39 produced.
        assert 38 <= n_rep <= 40
        assert lo is not None and hi is not None and lo <= hi
        # replicate medians can only take planted cent values
        assert lo in (100, 200, 300, 400) and hi in (100, 200, 300, 400)


def test_perm_test_diff_matches_python_recompute(spark, sf_dir):
    # full hashlib recompute: observed md5-gate arms, the 99
    # customer-level relabelings, exact integer arm sums, the pinned
    # half-up micro means, and the add-one p-value.
    import hashlib
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        PERM_B,
        q_perm_test_diff,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    row, = q_perm_test_diff(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect()

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    data = [
        (r.o_custkey, half_away(r.o_totalprice * 100)) for r in orders
    ]

    def d_micro(arm_of):
        n_a = n_b = s_a = s_b = 0
        for unit, cents in data:
            if arm_of(unit):
                n_a += 1
                s_a += cents
            else:
                n_b += 1
                s_b += cents
        if n_a == 0 or n_b == 0:
            return None, n_a, n_b
        u_a = (2 * 10**4 * s_a + n_a) // (2 * n_a)
        u_b = (2 * 10**4 * s_b + n_b) // (2 * n_b)
        return u_b - u_a, n_a, n_b

    def gate(s):
        return hashlib.md5(s.encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    d_obs, n_a, n_b = d_micro(lambda u: gate(str(u)))
    assert (row.n_a, row.n_b, row.d_obs_micro) == (n_a, n_b, d_obs)
    n_perms = n_ge = 0
    for p in range(1, PERM_B + 1):
        d_p, pa, pb = d_micro(lambda u: gate(f"p:{u}:{p}"))
        if d_p is None:
            continue
        n_perms += 1
        if abs(d_p) >= abs(d_obs):
            n_ge += 1
    assert (row.n_perms, row.n_ge) == (n_perms, n_ge)
    p_exp = (2 * 10**6 * (n_ge + 1) + (n_perms + 1)) // (2 * (n_perms + 1))
    assert row.p_micro == p_exp
    assert 0 < row.p_micro <= 1_000_000


def test_perm_test_diff_planted_no_effect_and_strong_effect(spark, tmp_path):
    # no effect: every order has the same price, so d_obs = 0 and
    # EVERY relabeling ties it -> p = (99+1)/100 = 1.0 exactly.
    # strong effect: prices planted BY the observed md5 arm (arm A
    # $1.00, arm B $100.00 across 80 single-order customers), so the
    # observed |d| is the maximum achievable and only a relabeling
    # reproducing the exact partition could tie it -> p = 1/100.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_perm_test_diff,
    )

    def write(rows, d):
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice_s string",
        ).selectExpr(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "CAST(o_totalprice_s AS DOUBLE) AS o_totalprice",
        ).write.parquet(f"{d}/orders.parquet")

    flat = [(i, i, "O", "5.00") for i in range(1, 81)]
    write(flat, f"{tmp_path}/flat")
    r, = q_perm_test_diff(spark, f"{tmp_path}/flat").collect()
    assert r.d_obs_micro == 0
    assert (r.n_perms, r.n_ge, r.p_micro) == (99, 99, 1_000_000)

    def arm_a(unit):
        return (
            hashlib.md5(str(unit).encode()).hexdigest()[:4]
            < AB_SPLIT_BOUND
        )

    planted = [
        (i, i, "O", "1.00" if arm_a(i) else "100.00")
        for i in range(1, 81)
    ]
    write(planted, f"{tmp_path}/effect")
    r, = q_perm_test_diff(spark, f"{tmp_path}/effect").collect()
    assert r.d_obs_micro == 99_000_000  # $99.00 in micro-dollars
    assert r.n_perms == 99 and r.n_ge == 0
    assert r.p_micro == 10_000  # 1/100 exactly


def test_bootstrap_ci_diff_matches_python_recompute(spark, sf_dir):
    # hashlib recompute of the d:-salted CLUSTER weights (one weight
    # per customer per replicate, applied to all the customer's
    # orders), the per-replicate arm-mean difference, and the rank
    # selection; the CI must bracket the plain difference.
    import hashlib
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_bootstrap_ci_diff,
    )
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BOOT_B,
        _POIS_CUM,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    row, = q_bootstrap_ci_diff(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect()

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    def gate(u):
        return (
            hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND
        )

    data = [
        (r.o_custkey, gate(r.o_custkey), half_away(r.o_totalprice * 100))
        for r in orders
    ]

    def u_micro(s, n):
        return (2 * 10**4 * s + n) // (2 * n) if n else None

    n_a = sum(1 for _, a, _ in data if a)
    n_b = len(data) - n_a
    s_a = sum(c for _, a, c in data if a)
    s_b = sum(c for _, a, c in data if not a)
    d_obs = u_micro(s_b, n_b) - u_micro(s_a, n_a)
    assert (row.n_a, row.n_b, row.d_obs_micro) == (n_a, n_b, d_obs)

    ds = []
    wcache: dict = {}
    for b in range(BOOT_B):
        wa = wb = sa = sb = 0
        for unit, a, cents in data:
            key = (unit, b)
            w = wcache.get(key)
            if w is None:
                h = hashlib.md5(f"d:{unit}:{b}".encode()).hexdigest()[:8]
                w = next((k for k, t in enumerate(_POIS_CUM) if h < t), 8)
                wcache[key] = w
            if a:
                wa += w
                sa += w * cents
            else:
                wb += w
                sb += w * cents
        if wa and wb:
            ds.append((u_micro(sb, wb) - u_micro(sa, wa), b))
    ds.sort()
    assert row.n_replicates == len(ds)
    n = len(ds)
    assert row.ci_lo_micro == ds[(25 * n + 999) // 1000 - 1][0]
    assert row.ci_hi_micro == ds[(975 * n + 999) // 1000 - 1][0]
    assert row.ci_lo_micro <= row.d_obs_micro <= row.ci_hi_micro


def test_bootstrap_ci_diff_cluster_weights_hold_customers_together(
    spark, tmp_path
):
    # the cluster discipline made observable: every order of a
    # customer carries the SAME replicate weight, so when every
    # customer within an arm has the SAME per-customer order mean,
    # the weights cancel in the weighted arm mean and every
    # surviving replicate difference equals the plain difference —
    # the CI collapses to a point. Row-level resampling would mix
    # the $10/$20 (and $50/$70) orders with independent weights and
    # spread the replicate distribution.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_bootstrap_ci_diff,
    )

    def arm_a(unit):
        return (
            hashlib.md5(str(unit).encode()).hexdigest()[:4]
            < AB_SPLIT_BOUND
        )

    custs_a = [u for u in range(1, 200) if arm_a(u)][:6]
    custs_b = [u for u in range(1, 200) if not arm_a(u)][:6]
    rows = []
    k = 0
    for u in custs_a:  # each arm-A customer averages $15
        rows += [(k + 1, u, "O", "10.00"), (k + 2, u, "O", "20.00")]
        k += 2
    for u in custs_b:  # each arm-B customer averages $60
        rows += [(k + 1, u, "O", "50.00"), (k + 2, u, "O", "70.00")]
        k += 2
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice_s string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(o_totalprice_s AS DOUBLE) AS o_totalprice",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    row, = q_bootstrap_ci_diff(spark, str(tmp_path)).collect()
    # mean A = $15, mean B = $60 -> d = $45 = 45e6 micro
    assert (row.n_a, row.n_b, row.d_obs_micro) == (12, 12, 45_000_000)
    assert row.n_replicates == 40  # md5-deterministic: no empty arm
    assert row.ci_lo_micro == row.ci_hi_micro == 45_000_000


def test_srm_check_matches_python_recompute(spark, sf_dir):
    # hashlib recompute of the per-nation + global unit counts, the
    # pinned chi2 micro division, and the integer-crossmul verdict.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        SRM_CHI2_CRIT_MICRO,
        q_srm_check,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.nationkey: r for r in q_srm_check(spark, sf_dir).collect()}
    custs = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    ).collect()
    by: dict = {}
    for r in custs:
        a = (
            hashlib.md5(str(r.c_custkey).encode()).hexdigest()[:4]
            < AB_SPLIT_BOUND
        )
        for key in (r.c_nationkey, -1):
            n, na = by.get(key, (0, 0))
            by[key] = (n + 1, na + (1 if a else 0))
    assert set(lane) == set(by)
    for key, (n, na) in by.items():
        nb = n - na
        row = lane[key]
        assert (row.n_units, row.n_a, row.n_b) == (n, na, nb)
        chi2 = (2 * 10**6 * (na - nb) ** 2 + n) // (2 * n)
        assert row.chi2_micro == chi2
        assert row.srm_alert == (
            10**6 * (na - nb) ** 2 > SRM_CHI2_CRIT_MICRO * n
        )
    # a healthy md5 split must not alert globally on the fixture
    assert lane[-1].srm_alert is False


def test_srm_check_planted_segment_loss_alerts_only_that_nation(
    spark, tmp_path
):
    # the segment-level catch a global check hides: nation 7 loses
    # most of its arm-A customers (a consent banner eating one
    # country's arm), nation 3 stays healthy. Nation 7 must alert;
    # nation 3 must not. 400 customers per nation keep the healthy
    # nation's md5 imbalance far under the chi2 critical value.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_srm_check,
    )

    def arm_a(u):
        return (
            hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND
        )

    rows = []
    for u in range(1, 401):
        rows.append((u, 3))  # healthy nation
    dropped = 0
    for u in range(1001, 1401):
        if arm_a(u) and dropped < 150:
            dropped += 1  # the data path "loses" these units
            continue
        rows.append((u, 7))
    assert dropped == 150
    spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long"
    ).write.parquet(f"{tmp_path}/customer.parquet")
    lane = {r.nationkey: r
            for r in q_srm_check(spark, str(tmp_path)).collect()}
    assert lane[3].srm_alert is False
    assert lane[7].srm_alert is True
    assert lane[3].n_units == 400 and lane[7].n_units == 250
    # global row aggregates both nations
    assert lane[-1].n_units == lane[3].n_units + lane[7].n_units


def test_eval_win_rate_matches_python_recompute(spark, sf_dir):
    # hashlib recompute: grades from the two rubric bands, w:-salted
    # Poisson weights per (doc, replicate), the (2*gt+eq)/(2*n) win
    # algebra, and the rank selection; the CI must bracket the plain
    # win rate.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        KRIPP_ORD_CHAR_BANDS,
        KRIPP_ORD_WORD_BANDS,
        q_eval_win_rate,
    )
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BOOT_B,
        _POIS_CUM,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.lang: r for r in q_eval_win_rate(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    ).collect()

    def band(x, bands):
        for g, edge in enumerate(bands):
            if x < edge:
                return g
        return 3

    def win_micro(gt, eq, n):
        if n == 0:
            return None
        return (2 * 10**6 * (2 * gt + eq) + 2 * n) // (4 * n)

    by: dict = {}
    for r in docs:
        a = band(r.n_chars, KRIPP_ORD_CHAR_BANDS)
        b = band(len(r.text.split(" ")), KRIPP_ORD_WORD_BANDS)
        by.setdefault(r.lang, []).append((r.doc_id, a, b))
    for lang, rows in by.items():
        n = len(rows)
        gt = sum(1 for _, a, b in rows if a > b)
        eq = sum(1 for _, a, b in rows if a == b)
        ln = lane[lang]
        assert (ln.n_docs, ln.n_gt, ln.n_eq) == (n, gt, eq)
        assert ln.win_micro == win_micro(gt, eq, n)
        wins = []
        for bb in range(BOOT_B):
            sw = wgt = weq = 0
            for doc_id, a, b in rows:
                h = hashlib.md5(
                    f"w:{doc_id}:{bb}".encode()
                ).hexdigest()[:8]
                w = next((k for k, t in enumerate(_POIS_CUM) if h < t), 8)
                sw += w
                if a > b:
                    wgt += w
                elif a == b:
                    weq += w
            if sw:
                wins.append((win_micro(wgt, weq, sw), bb))
        wins.sort()
        assert ln.n_replicates == len(wins)
        n = len(wins)
        assert ln.ci_lo_micro == wins[(25 * n + 999) // 1000 - 1][0]
        assert ln.ci_hi_micro == wins[(975 * n + 999) // 1000 - 1][0]
        assert ln.ci_lo_micro <= ln.win_micro <= ln.ci_hi_micro


def test_eval_win_rate_planted_all_ties_collapses_ci(spark, tmp_path):
    # every doc grades (0, 0) on both rubrics (1-char, 1-word texts):
    # the win algebra gives exactly 0.5 for EVERY replicate whatever
    # the weights (win = (0 + sw)/(2*sw)), so the CI collapses to the
    # point 500000 — ties ride the counter algebra, never float 0.5.
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_eval_win_rate,
    )

    rows = [(i, "x", "en", "synth", 1) for i in range(1, 61)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    row, = q_eval_win_rate(spark, str(tmp_path)).collect()
    assert (row.n_docs, row.n_gt, row.n_eq) == (60, 0, 60)
    assert row.win_micro == 500_000
    assert row.n_replicates == 40
    assert row.ci_lo_micro == row.ci_hi_micro == 500_000


def test_metric_winsorized_matches_python_recompute(spark, sf_dir):
    # recompute type-1 p5/p95, clamp, and both pinned means in pure
    # Python against the lane.
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_metric_winsorized,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.status: r
            for r in q_metric_winsorized(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    ).collect()

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    by: dict = {}
    for r in orders:
        by.setdefault(r.o_orderstatus, []).append(
            half_away(r.o_totalprice * 100)
        )
    for status, cents in by.items():
        cents.sort()
        n = len(cents)
        p05 = cents[-(-5 * n // 100) - 1]   # ceil(0.05 n), 1-based
        p95 = cents[-(-95 * n // 100) - 1]
        s = sum(cents)
        sw = sum(min(max(c, p05), p95) for c in cents)
        row = lane[status]
        assert (row.n_orders, row.p05_cents, row.p95_cents) == (
            n, p05, p95)
        assert row.mean_micro == (2 * 10**4 * s + n) // (2 * n)
        assert row.winsorized_mean_micro == (
            (2 * 10**4 * sw + n) // (2 * n))
        # winsorization pulls the mean toward the band
        assert row.p05_cents * 10**4 <= row.winsorized_mean_micro
        assert row.winsorized_mean_micro <= row.p95_cents * 10**4


def test_metric_winsorized_planted_tail_is_clamped(spark, tmp_path):
    # 99 orders at $10 + one at $1,000,000: the raw mean moves ~$10k,
    # the winsorized mean clamps the whale to p95 = $10 -> exactly
    # $10. Ties at the p5 boundary exercise the histogram path.
    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_metric_winsorized,
    )

    rows = [(i, 1, "O", "10.00") for i in range(1, 100)]
    rows.append((100, 1, "O", "1000000.00"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice_s string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(o_totalprice_s AS DOUBLE) AS o_totalprice",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    row, = q_metric_winsorized(spark, str(tmp_path)).collect()
    assert (row.n_orders, row.p05_cents, row.p95_cents) == (
        100, 1000, 1000)
    # raw mean = (99*10 + 1e6)/100 dollars = $10009.90
    assert row.mean_micro == 10_009_900_000
    # winsorized: the whale clamps to $10 -> mean exactly $10
    assert row.winsorized_mean_micro == 10_000_000


def test_ngram_novelty_matches_python_recompute(spark, sf_dir):
    # pure-Python recompute of per-doc distinct trigrams, corpus
    # first-occurrence attribution, and the pinned micro share.
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        q_ngram_novelty,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.doc_id: r for r in q_ngram_novelty(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()

    grams_of: dict = {}
    for r in docs:
        t = r.text.split(" ")
        gs = []
        seen = set()
        for i in range(len(t) - 2):
            g = f"{t[i]} {t[i + 1]} {t[i + 2]}"
            if g not in seen:
                seen.add(g)
                gs.append(g)
        if gs:
            grams_of[r.doc_id] = gs
    first: dict = {}
    for doc_id in sorted(grams_of):
        for g in grams_of[doc_id]:
            if g not in first:
                first[g] = doc_id
    assert set(lane) == set(grams_of)
    for doc_id, gs in grams_of.items():
        n = len(gs)
        novel = sum(1 for g in gs if first[g] == doc_id)
        row = lane[doc_id]
        assert (row.n_grams, row.n_novel) == (n, novel)
        assert row.novelty_micro == (2 * 10**6 * novel + n) // (2 * n)


def test_ngram_novelty_planted_copy_chain(spark, tmp_path):
    # an original doc scores exactly 1.0; its verbatim repost (higher
    # doc_id) scores exactly 0.0; a half-copy scores by its novel
    # half; a 2-token doc has no trigram and is dropped.
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        q_ngram_novelty,
    )

    original = "alpha beta gamma delta epsilon zeta"  # 4 trigrams
    half = "alpha beta gamma nu xi omicron pi"  # shares 1 of 5 trigrams
    rows = [
        (1, original, "en", "s", len(original)),
        (2, original, "en", "s", len(original)),  # verbatim repost
        (3, half, "en", "s", len(half)),
        (4, "too short", "en", "s", 9),  # 2 tokens -> dropped
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    lane = {r.doc_id: r
            for r in q_ngram_novelty(spark, str(tmp_path)).collect()}
    assert set(lane) == {1, 2, 3}
    assert (lane[1].n_grams, lane[1].n_novel,
            lane[1].novelty_micro) == (4, 4, 1_000_000)
    assert (lane[2].n_grams, lane[2].n_novel,
            lane[2].novelty_micro) == (4, 0, 0)
    # half: trigrams 'alpha beta gamma' (seen), 'beta gamma nu',
    # 'gamma nu xi', 'nu xi omicron', 'xi omicron pi' -> 4/5 novel
    assert (lane[3].n_grams, lane[3].n_novel,
            lane[3].novelty_micro) == (5, 4, 800_000)


def test_eval_brier_matches_python_recompute_and_identity(spark, sf_dir):
    # replicate the NTILE decile frame in Python over the (trusted,
    # separately oracle-gated) lm scores, recompute every term in
    # exact integer/fraction arithmetic, and pin the Murphy identity
    # BS = REL - RES + UNC within the per-term quantization bound.
    from fractions import Fraction

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        CAL_N_BINS,
        CAL_POS_LANG,
        q_eval_brier,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_lm_unigram_score,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    row, = q_eval_brier(spark, sf_dir).collect()
    lm = {r.doc_id: r.avg_nll
          for r in q_lm_unigram_score(spark, sf_dir).collect()}
    langs = {r.doc_id: r.lang
             for r in load_table(spark, sf_dir, "documents")
             .select("doc_id", "lang").collect()}
    docs = sorted(((lm[d], d) for d in lm))
    n = len(docs)
    # NTILE fill rule: earlier buckets one larger
    base, extra = divmod(n, CAL_N_BINS)
    bins = []
    i = 0
    for k in range(1, CAL_N_BINS + 1):
        size = base + (1 if k <= extra else 0)
        chunk = docs[i:i + size]
        i += size
        pos = sum(1 for _, d in chunk if langs[d] == CAL_POS_LANG)
        bins.append((k, size, pos))
    n_pos = sum(p for _, _, p in bins)
    assert (row.n_docs, row.n_pos) == (n, n_pos)

    def half_up(x):  # round-half-up of a Fraction, non-negative here
        return int(x + Fraction(1, 2))

    t_bs = sum(
        nk * (2 * k - 1) ** 2 - 40 * (2 * k - 1) * pk + 400 * pk
        for k, nk, pk in bins
    )
    bs = (2 * 10**6 * t_bs + 400 * n) // (800 * n)
    rel_sum = sum(
        half_up(Fraction(10**6 * ((2 * k - 1) * nk - 20 * pk) ** 2,
                         400 * nk))
        for k, nk, pk in bins
    )
    res_sum = sum(
        half_up(Fraction(10**6 * (pk * n - n_pos * nk) ** 2, nk * n * n))
        for k, nk, pk in bins
    )
    rel = (2 * rel_sum + n) // (2 * n)
    res = (2 * res_sum + n) // (2 * n)
    unc = half_up(Fraction(10**6 * n_pos * (n - n_pos), n * n))
    assert (row.bs_micro, row.rel_micro, row.res_micro,
            row.unc_micro) == (bs, rel, res, unc)
    # the Murphy identity — exact for discrete forecasts, so the
    # reported micro values can disagree only by the per-term
    # quantization (a few micro at most)
    assert abs(row.bs_micro
               - (row.rel_micro - row.res_micro + row.unc_micro)) <= 3


def _bt_python(rows_abc, iters):
    # exact-integer reference MM: rows_abc = [(a, b, c-or-None)]
    def hdiv(num, den):
        return (2 * num + den) // (2 * den)

    w = {k: 0 for k in
         ("ab", "ba", "ac", "ca", "bc", "cb")}
    for a, b, c in rows_abc:
        if a > b:
            w["ab"] += 1
        elif b > a:
            w["ba"] += 1
        if c is not None:
            if a > c:
                w["ac"] += 1
            elif c > a:
                w["ca"] += 1
            if b > c:
                w["bc"] += 1
            elif c > b:
                w["cb"] += 1
    n = {("a", "b"): w["ab"] + w["ba"], ("a", "c"): w["ac"] + w["ca"],
         ("b", "c"): w["bc"] + w["cb"]}
    wins = {"a": w["ab"] + w["ac"], "b": w["ba"] + w["bc"],
            "c": w["ca"] + w["cb"]}

    def n_of(x, y):
        return n[(min(x, y), max(x, y))]

    t = {"a": 10**6, "b": 10**6, "c": 10**6}
    for _ in range(iters):
        raw = {}
        for x, y, z in (("a", "b", "c"), ("b", "a", "c"),
                        ("c", "a", "b")):
            d = n_of(x, y) * (t[x] + t[z]) + n_of(x, z) * (t[x] + t[y])
            if d == 0:
                raw[x] = t[x]
            elif wins[x] == 0:
                raw[x] = 0
            else:
                raw[x] = hdiv(
                    wins[x] * (t[x] + t[y]) * (t[x] + t[z]), d
                )
        s = sum(raw.values())
        t = {x: (raw[x] if s == 0 else hdiv(3 * 10**6 * raw[x], s))
             for x in raw}
    comps = {"a": n[("a", "b")] + n[("a", "c")],
             "b": n[("a", "b")] + n[("b", "c")],
             "c": n[("a", "c")] + n[("b", "c")]}
    return t, wins, comps


def test_eval_bradley_terry_matches_python_recompute(spark, sf_dir):
    # exact-integer recompute of the win matrix and all 8 unrolled MM
    # iterations (grades from the three rubric bands).
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        BT_ITERS,
        KRIPP_ABSTAIN_MIN,
        KRIPP_ORD_CHAR_BANDS,
        KRIPP_ORD_WORD_BANDS,
        q_eval_bradley_terry,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.rater: r
            for r in q_eval_bradley_terry(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "text", "n_chars"
    ).collect()

    def band(x, bands):
        for g, edge in enumerate(bands):
            if x < edge:
                return g
        return 3

    rows = []
    for r in docs:
        toks = r.text.split(" ")
        a = band(r.n_chars, KRIPP_ORD_CHAR_BANDS)
        b = band(len(toks), KRIPP_ORD_WORD_BANDS)
        if r.n_chars < KRIPP_ABSTAIN_MIN:
            c = None
        else:
            d, wn = len(set(toks)), len(toks)
            if 5 * d < 2 * wn:
                c = 0
            elif 2 * d < wn:
                c = 1
            elif 20 * d < 13 * wn:
                c = 2
            else:
                c = 3
        rows.append((a, b, c))
    t, wins, comps = _bt_python(rows, BT_ITERS)
    for rater, key in (("char_len", "a"), ("verbosity", "b"),
                       ("lexical_div", "c")):
        assert (lane[rater].theta_micro, lane[rater].n_wins,
                lane[rater].n_comparisons) == (
            t[key], wins[key], comps[key])
    # thetas stay normalized: Sigma theta = 3e6 up to division rounding
    assert abs(sum(r.theta_micro for r in lane.values()) - 3_000_000) <= 2


def test_eval_bradley_terry_planted_strict_dominance(spark, tmp_path):
    # A strictly beats B strictly beats C on every doc: theta_A >
    # theta_B > theta_C and the never-winning C is driven to 0 (the
    # MM fixed point for a winless player). Long, medium, short
    # texts produce the strict grade ordering a=3 > b in {1,2} > c=0.
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_eval_bradley_terry,
    )

    # n_chars >= 450 -> a=3; ~40 words -> b=1; few distinct/many
    # repeats -> c=0 (d/w < 2/5), n_chars >= 250 so C never abstains
    text = " ".join(["repeat"] * 40)  # 40 tokens, 6*40+39=279 chars
    rows = [(i, text, "en", "s", 500) for i in range(1, 31)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    lane = {r.rater: r
            for r in q_eval_bradley_terry(spark, str(tmp_path)).collect()}
    assert lane["char_len"].n_wins == 60      # beats B and C on all 30
    assert lane["verbosity"].n_wins == 30     # beats C on all 30
    assert lane["lexical_div"].n_wins == 0
    assert (lane["char_len"].theta_micro
            > lane["verbosity"].theta_micro
            > lane["lexical_div"].theta_micro)
    assert lane["lexical_div"].theta_micro == 0


def test_sample_alloc_neyman_matches_python_recompute(spark, sf_dir):
    # exact recompute: integer variance numerators, the one pinned
    # sqrt per stratum, and Hamilton apportionment; allocations must
    # sum exactly to the budget.
    import math

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        NEYMAN_BUDGET,
        q_sample_alloc_neyman,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.status: r
            for r in q_sample_alloc_neyman(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    ).collect()

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    by: dict = {}
    for r in orders:
        by.setdefault(r.o_orderstatus, []).append(
            half_away(r.o_totalprice * 100)
        )
    stats = {}
    for status, cents in by.items():
        n = len(cents)
        v = n * sum(c * c for c in cents) - sum(cents) ** 2
        w = half_away(math.sqrt(float(v)))
        stats[status] = (n, w)
    w_tot = sum(w for _, w in stats.values())
    assert w_tot > 0
    base = {s: NEYMAN_BUDGET * w // w_tot for s, (_, w) in stats.items()}
    rem = {s: NEYMAN_BUDGET * w % w_tot for s, (_, w) in stats.items()}
    leftover = NEYMAN_BUDGET - sum(base.values())
    order = sorted(stats, key=lambda s: (-rem[s], s))
    alloc = {
        s: base[s] + (1 if i < leftover else 0)
        for i, s in enumerate(order)
    }
    for status, (n, w) in stats.items():
        row = lane[status]
        assert (row.n_rows, row.neyman_weight, row.alloc) == (
            n, w, alloc[status])
    assert sum(r.alloc for r in lane.values()) == NEYMAN_BUDGET


def test_sample_alloc_neyman_planted_zero_variance_stratum(
    spark, tmp_path
):
    # a constant-price stratum has sigma = 0 and must get ZERO budget
    # (Neyman: sampling it beyond one row teaches nothing); the two
    # noisy strata split the whole budget by their exact weights, and
    # Hamilton keeps the sum exactly at the budget.
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        NEYMAN_BUDGET,
        q_sample_alloc_neyman,
    )

    rows = []
    k = 0
    for i in range(60):  # constant stratum: sigma = 0
        rows.append((k := k + 1, 1, "C", "50.00"))
    for i in range(60):  # low-noise stratum: alternating 10/12
        rows.append((k := k + 1, 1, "L", "10.00" if i % 2 else "12.00"))
    for i in range(60):  # high-noise stratum: alternating 10/90
        rows.append((k := k + 1, 1, "H", "10.00" if i % 2 else "90.00"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice_s string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(o_totalprice_s AS DOUBLE) AS o_totalprice",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    lane = {r.status: r
            for r in q_sample_alloc_neyman(spark, str(tmp_path)).collect()}
    assert lane["C"].neyman_weight == 0 and lane["C"].alloc == 0
    # weights: sqrt(n^2 * var) = n*sigma; sigma_H/sigma_L = 40
    assert lane["H"].neyman_weight == 40 * lane["L"].neyman_weight
    assert lane["H"].alloc + lane["L"].alloc == NEYMAN_BUDGET
    assert lane["H"].alloc > lane["L"].alloc


def test_perm_test_ratio_matches_python_recompute(spark, sf_dir):
    # hashlib recompute of the pr:-salted relabelings, the exact
    # share differences, and the add-one p-value.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        PERM_B,
        q_perm_test_ratio,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    row, = q_perm_test_ratio(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    ).collect()
    data = [
        (r.o_custkey, 1 if r.o_orderpriority == "1-URGENT" else 0)
        for r in orders
    ]

    def d_micro(arm_of):
        n_a = n_b = u_a = u_b = 0
        for unit, u in data:
            if arm_of(unit):
                n_a += 1
                u_a += u
            else:
                n_b += 1
                u_b += u
        if n_a == 0 or n_b == 0:
            return None, n_a, n_b
        s_a = (2 * 10**6 * u_a + n_a) // (2 * n_a)
        s_b = (2 * 10**6 * u_b + n_b) // (2 * n_b)
        return s_b - s_a, n_a, n_b

    def gate(s):
        return hashlib.md5(s.encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    d_obs, n_a, n_b = d_micro(lambda u: gate(str(u)))
    assert (row.n_a, row.n_b, row.d_obs_micro) == (n_a, n_b, d_obs)
    n_perms = n_ge = 0
    for p in range(1, PERM_B + 1):
        d_p, _, _ = d_micro(lambda u: gate(f"pr:{u}:{p}"))
        if d_p is None:
            continue
        n_perms += 1
        if abs(d_p) >= abs(d_obs):
            n_ge += 1
    assert (row.n_perms, row.n_ge) == (n_perms, n_ge)
    p_exp = (2 * 10**6 * (n_ge + 1) + (n_perms + 1)) // (2 * (n_perms + 1))
    assert row.p_micro == p_exp
    # label-stream independence from the mean lane's p: salt
    assert (
        hashlib.md5(b"pr:1:1").hexdigest()
        != hashlib.md5(b"p:1:1").hexdigest()
    )


def test_perm_test_ratio_planted_effects(spark, tmp_path):
    # no effect: urgency assigned identically everywhere (all urgent)
    # -> every share difference is 0 -> p = 1.0 exactly. strong
    # effect: urgency planted BY the observed arm (arm A always
    # urgent, arm B never) -> |d_obs| = 1e6, only a relabeling
    # reproducing the partition ties it -> p = 1/100.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_perm_test_ratio,
    )

    def write(rows, d):
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")

    flat = [(i, i, "O", "1-URGENT") for i in range(1, 81)]
    write(flat, f"{tmp_path}/flat")
    r, = q_perm_test_ratio(spark, f"{tmp_path}/flat").collect()
    assert r.d_obs_micro == 0
    assert (r.n_perms, r.n_ge, r.p_micro) == (99, 99, 1_000_000)

    def arm_a(unit):
        return (
            hashlib.md5(str(unit).encode()).hexdigest()[:4]
            < AB_SPLIT_BOUND
        )

    planted = [
        (i, i, "O", "1-URGENT" if arm_a(i) else "3-MEDIUM")
        for i in range(1, 81)
    ]
    write(planted, f"{tmp_path}/effect")
    r, = q_perm_test_ratio(spark, f"{tmp_path}/effect").collect()
    assert r.d_obs_micro == -1_000_000  # share_B - share_A = 0 - 1
    assert r.n_perms == 99 and r.n_ge == 0
    assert r.p_micro == 10_000


def test_bootstrap_ci_winsorized_consistent_with_components(spark, sf_dir):
    # composition contract: bounds and the plain winsorized mean must
    # equal metric_winsorized BITWISE; the CI must bracket the point
    # estimate; and a hashlib recompute pins the v:-salted replicate
    # stream end-to-end.
    import hashlib
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_bootstrap_ci_winsorized,
        q_metric_winsorized,
    )
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BOOT_B,
        _POIS_CUM,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.status: r
            for r in q_bootstrap_ci_winsorized(spark, sf_dir).collect()}
    base = {r.status: r
            for r in q_metric_winsorized(spark, sf_dir).collect()}
    for status, b in base.items():
        ln = lane[status]
        assert (ln.n_orders, ln.p05_cents, ln.p95_cents) == (
            b.n_orders, b.p05_cents, b.p95_cents)
        assert ln.winsorized_mean_micro == b.winsorized_mean_micro
        assert ln.ci_lo_micro <= ln.winsorized_mean_micro <= ln.ci_hi_micro

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).collect()
    by: dict = {}
    for r in orders:
        by.setdefault(r.o_orderstatus, []).append(
            (r.o_orderkey, half_away(r.o_totalprice * 100))
        )
    for status, rows in by.items():
        lo, hi = base[status].p05_cents, base[status].p95_cents
        means = []
        for bb in range(BOOT_B):
            sw = swc = 0
            for key, cents in rows:
                h = hashlib.md5(f"v:{key}:{bb}".encode()).hexdigest()[:8]
                w = next((k for k, t in enumerate(_POIS_CUM) if h < t), 8)
                sw += w
                swc += w * min(max(cents, lo), hi)
            if sw:
                means.append(((2 * 10**4 * swc + sw) // (2 * sw), bb))
        means.sort()
        ln = lane[status]
        assert ln.n_replicates == len(means)
        n = len(means)
        assert ln.ci_lo_micro == means[(25 * n + 999) // 1000 - 1][0]
        assert ln.ci_hi_micro == means[(975 * n + 999) // 1000 - 1][0]


def test_graph_community_profile_two_cliques(spark, tmp_path):
    # the modularity/clustering plant: two label-blocked K4 cliques.
    # Per community: 4 nodes, 6 intra edges, degree_sum 12, cut 0,
    # wedges 4*C(3,2) = 12, triangles 4, transitivity 12/12 = 1.0,
    # contrib (4*12*6 - 144)/576 = 0.25.
    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        q_graph_community_profile,
    )

    vecs = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),
        (2, [0.8, 0.2], 1),
        (3, [0.7, 0.3], 1),
        (4, [0.0, 1.0], 2),
        (5, [0.1, 0.9], 2),
        (6, [0.2, 0.8], 2),
        (7, [0.3, 0.7], 2),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {
        r.community: (
            r.n_nodes,
            r.degree_sum,
            r.intra_edges,
            r.cut_edges,
            r.n_wedges,
            r.n_triangles,
            r.transitivity_micro,
            r.contrib_micro,
        )
        for r in q_graph_community_profile(spark, str(tmp_path)).collect()
    }
    expected = (4, 12, 6, 0, 12, 4, 1_000_000, 250_000)
    assert got == {0: expected, 4: expected}


def test_graph_community_profile_decomposes_modularity(spark, sf_dir):
    # the profile must decompose the modularity lane EXACTLY on the
    # real fixture: same community set, same per-community size /
    # intra / degree / contrib, and intra + cut/2 must telescope to
    # the global edge count — one partition definition, two views.
    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        q_graph_community_profile,
        q_graph_modularity,
    )

    prof = {r.community: r
            for r in q_graph_community_profile(spark, sf_dir).collect()}
    mod = {r.community: r
           for r in q_graph_modularity(spark, sf_dir).collect()}
    assert set(prof) == set(mod)
    for c, p in prof.items():
        m = mod[c]
        assert (p.n_nodes, p.intra_edges, p.degree_sum, p.contrib_micro) == (
            m.n_nodes, m.intra_edges, m.degree_sum, m.contrib_micro
        )
        assert p.cut_edges >= 0
        # local closure can't exceed 1 and needs wedges to be defined
        if p.n_wedges == 0:
            assert p.transitivity_micro is None
        else:
            assert 0 <= p.transitivity_micro <= 1_000_000
    m_edges = next(iter(mod.values())).m_edges
    assert (
        sum(p.intra_edges for p in prof.values())
        + sum(p.cut_edges for p in prof.values()) // 2
        == m_edges
    )


def test_text_readability_planted_flesch(spark, tmp_path):
    # doc 1: 5 words / 2 sentence runs / 7 vowel-group syllables ->
    # F = 206.835 - 1.015*(5/2) - 84.6*(7/5) = 85.8575 (band easy);
    # doc 2: vowelless tokens floor at 1 syllable each, no [.!?] run
    # floors sentences at 1 -> F = 206.835 - 1.015*2 - 84.6*1
    # = 120.205 (very_easy); doc 3 (empty text) has no words and is
    # absent from the output entirely (both engines drop it before
    # the aggregate — the NULL guard in _FLESCH_EXPR stays defensive)
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_text_readability,
    )

    rows = [
        (1, "hello world. goodbye now! yes", "en", "s", 29),
        (2, "123 456.", "en", "s", 8),
        (3, "", "en", "s", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.doc_id: (
            r.n_words,
            r.n_sentences,
            r.n_syllables,
            r.flesch_micro,
            r.band,
        )
        for r in q_text_readability(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (5, 2, 7, 85_857_500, "easy"),
        2: (2, 1, 2, 120_205_000, "very_easy"),
    }


def test_graph_clustering_coeff_two_cliques(spark, tmp_path):
    # the same two label-blocked K4 cliques as the modularity test:
    # 12 canonical edges, every vertex deg 3 -> wedges 8*C(3,2)=24,
    # triangles 2*4=8, transitivity 24/24 = 1.0; every local
    # coefficient 2*3/(3*2) = 1.0 -> mean 1.0
    from data_ingestion_s3_to_parquet_spark.operators.graph import (
        q_graph_clustering_coeff,
    )

    vecs = [
        (0, [1.0, 0.0], 1),
        (1, [0.9, 0.1], 1),
        (2, [0.8, 0.2], 1),
        (3, [0.7, 0.3], 1),
        (4, [0.0, 1.0], 2),
        (5, [0.1, 0.9], 2),
        (6, [0.2, 0.8], 2),
        (7, [0.3, 0.7], 2),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    r, = q_graph_clustering_coeff(spark, str(tmp_path)).collect()
    assert (
        r.n_vertices_connected,
        r.n_edges,
        r.n_wedges,
        r.n_triangles,
        r.transitivity_micro,
        r.n_local,
        r.mean_local_micro,
    ) == (8, 12, 24, 8, 1_000_000, 8, 1_000_000)


def test_zipf_fit_planted_perfect_line(spark, tmp_path):
    # frequencies 24/12/8/6 at ranks 1..4 satisfy f_r = 24/r exactly,
    # so y_micro + x_micro = round(1e6*log2(24)) = 4584963 on every
    # point EVEN AFTER micro-rounding (log2(24/r) = log2 24 - log2 r)
    # -> slope exactly -1: s = 1.0, intercept = 4584963, R^2 = 1.0
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_zipf_fit,
    )

    text = " ".join(["w1"] * 24 + ["w2"] * 12 + ["w3"] * 8 + ["w4"] * 6)
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    r, = q_zipf_fit(spark, str(tmp_path)).collect()
    assert (r.n_tokens, r.vocab_size, r.top_n) == (50, 4, 4)
    assert r.zipf_s_micro == 1_000_000
    assert r.intercept_log2_micro == 4_584_963
    assert r.r2_micro == 1_000_000


def test_heaps_fit_all_distinct_words(spark, tmp_path):
    # five docs of all-distinct words: vocab_cum == tokens_cum at
    # EVERY checkpoint, so the log-log points sit exactly on y = x ->
    # beta = 1.0, intercept = 0, R^2 = 1.0. doc_ids 1..5 bucket to
    # checkpoints ceil(d*16/5) = {4,7,10,13,16}; checkpoints 1-3 have
    # zero cumulative tokens and are excluded from the fit (13 points)
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_heaps_fit,
    )

    texts = ["w1 w2", "w3", "w4 w5 w6", "w7", "w8 w9"]
    rows = [(i + 1, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.checkpoint: (r.tokens_cum, r.vocab_cum)
        for r in q_heaps_fit(spark, str(tmp_path)).collect()
    }
    assert len(got) == 16
    assert got[3] == (0, 0)
    assert got[4] == (2, 2)
    assert got[7] == (3, 3)
    assert got[10] == (6, 6)
    assert got[13] == (7, 7)
    assert got[16] == (9, 9)
    r = next(
        iter(
            q_heaps_fit(spark, str(tmp_path))
            .where("checkpoint = 16")
            .collect()
        )
    )
    assert r.n_fit_points == 13
    assert r.heaps_beta_micro == 1_000_000
    assert r.intercept_log2_micro == 0
    assert r.r2_micro == 1_000_000


def test_heaps_fit_doc_id_zero_routes_to_first_checkpoint(spark, tmp_path):
    # max(doc_id) = 0 must not divide by zero (GREATEST(max_id, 1)
    # guard — the round-11 review's catch: ANSI Spark threw, DuckDB's
    # NULL-swallowing LEAST silently routed to checkpoint 16); the
    # clamp sends id-0 docs to checkpoint 1, the correct prefix
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_heaps_fit,
    )

    spark.createDataFrame(
        [(0, "a b c", "en", "s", 5)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.checkpoint: (r.tokens_cum, r.vocab_cum)
        for r in q_heaps_fit(spark, str(tmp_path)).collect()
    }
    assert got[1] == (3, 3) and got[16] == (3, 3)


def test_event_burstiness_planted_grid(spark, tmp_path):
    # one type, events at hour h (4 of them) and h+2 (2), hour h+1
    # SILENT: the grid span is N=3 though only 2 hours are active.
    # Sums over observed rows ARE the grid moments (zeros add
    # nothing): s=6, ss=20 -> var_num = 3*20-36 = 24, fano =
    # 24/(3*6) = 1.3333 -> 1333333; mean = 6/3 = 2.0
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_event_burstiness,
    )

    h = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (i, h + dt.timedelta(minutes=i), 1, "click", 1.0, "{}")
        for i in range(4)
    ] + [
        (10 + i, h + dt.timedelta(hours=2, minutes=i), 1, "click", 1.0, "{}")
        for i in range(2)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    r, = q_event_burstiness(spark, str(tmp_path)).collect()
    assert (r.n_hours, r.n_active_hours, r.n_events) == (3, 2, 6)
    assert r.mean_per_hour_micro == 2_000_000
    assert r.fano_micro == 1_333_333


def test_event_interarrival_planted_subhour_clumping(spark, tmp_path):
    # the signature the hourly Fano CANNOT see (VERDICT r11 #4): two
    # types with IDENTICAL hourly histograms (60 events in the same
    # single hour bucket), one clock-regular, one clumped:
    # - "spread": events every 60 s -> all 59 gaps equal -> sigma=0,
    #   B = (0-mu)/(0+mu) = -1 exactly, CV = 0;
    # - "burst": 59 events in the first minute + 1 at second 3598 ->
    #   gaps 58x1s + 1x3540s -> B ~ +0.76.
    # Also pins the telescoping cross-check gap_sum = max(t)-min(t).
    import datetime as dt
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_event_burstiness,
        q_event_interarrival,
    )

    h = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (i, h + dt.timedelta(seconds=60 * i), 1, "spread", 1.0, "{}")
        for i in range(60)
    ] + [
        (100 + i, h + dt.timedelta(seconds=i), 1, "burst", 1.0, "{}")
        for i in range(59)
    ] + [(200, h + dt.timedelta(seconds=3598), 1, "burst", 1.0, "{}")]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    fano = {r.event_type: r.fano_micro
            for r in q_event_burstiness(spark, str(tmp_path)).collect()}
    assert fano["spread"] == fano["burst"] == 0  # hourly grid is blind

    out = {r.event_type: r
           for r in q_event_interarrival(spark, str(tmp_path)).collect()}
    sp = out["spread"]
    assert sp.n_gaps == 59 and sp.gap_sum_us == 3_540 * 1_000_000
    assert sp.cv_micro == 0 and sp.b_index_micro == -1_000_000
    b = out["burst"]
    assert b.n_gaps == 59 and b.gap_sum_us == 3_598 * 1_000_000
    # telescoping: gap_sum = max(t) - min(t) for both types
    # independent scalar recompute of the engine's pinned op sequence
    gaps = [1_000_000] * 58 + [3_540 * 1_000_000]
    n, sd = len(gaps), sum(gaps)
    v = n * sum(g * g for g in gaps) - sd * sd
    s = math.sqrt(float(v))
    exp_b = round(1e6 * (s - float(sd)) / (s + float(sd)))
    exp_cv = round(1e6 * s / float(sd))
    assert b.b_index_micro == exp_b and 0.70 < exp_b / 1e6 < 0.82
    assert b.cv_micro == exp_cv and exp_cv > 5_000_000


def test_event_interarrival_scale_is_row_identical(spark, sf_dir):
    # the segmented (type, day) formulation must reproduce the base
    # lane bitwise — one gap-multiset definition, two plans (the
    # eval_mrr_scale twin contract; both share ONE oracle).
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_event_interarrival,
        q_event_interarrival_scale,
    )

    base = sorted(map(tuple, q_event_interarrival(spark, sf_dir).collect()))
    seg = sorted(
        map(tuple, q_event_interarrival_scale(spark, sf_dir).collect())
    )
    assert seg == base


def test_event_interarrival_scale_planted_boundary_stitch(spark, tmp_path):
    # the adversarial segment layout: events on day 1 (two, 10 s
    # apart), NOTHING on day 2, one event exactly AT midnight of
    # day 3 (the tie-at-boundary edge: it must sort into day 3's
    # segment), one more on day 3. Gap multiset: 10 s, the
    # 2-quiet-day boundary stitch, and 5 s — n=3, sum telescopes to
    # max-min. Both formulations must agree exactly.
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        q_event_interarrival,
        q_event_interarrival_scale,
    )

    d1 = dt.datetime(2024, 1, 1, 23, 59, 40)
    d3 = dt.datetime(2024, 1, 3, 0, 0, 0)
    rows = [
        (1, d1, 1, "t", 1.0, "{}"),
        (2, d1 + dt.timedelta(seconds=10), 1, "t", 1.0, "{}"),
        (3, d3, 1, "t", 1.0, "{}"),                      # midnight tie
        (4, d3 + dt.timedelta(seconds=5), 1, "t", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    b, = q_event_interarrival(spark, str(tmp_path)).collect()
    g, = q_event_interarrival_scale(spark, str(tmp_path)).collect()
    assert tuple(b) == tuple(g)
    assert g.n_gaps == 3
    span = int((d3 - d1).total_seconds() + 5) * 1_000_000
    assert g.gap_sum_us == span  # telescoping across the quiet day


def test_eval_kripp_alpha_planted_abstentions(spark, tmp_path):
    # four docs, the TTR rater abstaining on two (n_chars < 250):
    # (1,1,1) m=3 x=3 -> o2 0; (0,1,-) m=2 x=1 -> o2 4; (0,0,0) m=3
    # x=0 -> 0; (0,0,-) m=2 x=0 -> 0. n=10, n1=4, n0=6, O2=4 ->
    # alpha = 1 - 4*9/(4*6*4) = 60/96 = 0.625
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_eval_kripp_alpha,
    )

    w50 = " ".join(f"w{i}" for i in range(50))
    rows = [
        (1, w50, "en", "s", 349),       # a=1 b=1 c=1
        (2, w50, "en", "s", 200),       # a=0 b=1 c=NULL (abstain)
        (3, "w w w w w", "en", "s", 260),  # a=0 b=0 c=0 (TTR 0.2)
        (4, "x x x", "en", "s", 100),   # a=0 b=0 c=NULL (abstain)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    r, = q_eval_kripp_alpha(spark, str(tmp_path)).collect()
    assert (r.n_units, r.n_abstained, r.n_ratings) == (4, 2, 10)
    assert (r.n_ones, r.n_zeros, r.o2) == (4, 6, 4)
    assert r.alpha_micro == 625_000


def test_eval_kripp_alpha_ordinal_planted_graded_panel(spark, tmp_path):
    # three docs, grades hand-pinned through the rubric bands:
    # doc1 (1,2,3) m=3: s1=6 s2=14 c_u = 3*14-36 = 6 (the adjacent
    #   ladder 1-2-3: pair deltas 1+4+1, cleared by (m-1)=2);
    # doc2 (2,2,2) m=3: c_u = 0;
    # doc3 (0,3,abstain) m=2: c_u = 2*(2*9-9) = 18 — the blown call
    #   weighs 3x the whole adjacent ladder (squared distance, the
    #   ordinal point; nominal alpha weighs both units equally).
    # Totals: n=8, S1=15, S2=35, O=24, E = 2*(8*35-225) = 110,
    # alpha = 1 - 24*7/110 = -58/110 -> -527273 micro.
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_eval_kripp_alpha_ordinal,
    )

    t60_distinct = " ".join(f"u{i}" for i in range(60))
    t60_half = " ".join(f"v{i // 2}" for i in range(60))
    t80_distinct = " ".join(f"w{i}" for i in range(80))
    rows = [
        (1, t60_distinct, "x", "s", 260),  # a=1 b=2 c=3
        (2, t60_half, "x", "s", 350),      # a=2 b=2 c=2
        (3, t80_distinct, "x", "s", 100),  # a=0 b=3 c=NULL (abstain)
        # degenerate lang: every rating identical -> E = 0 -> NULL
        (4, t60_half, "z", "s", 350),      # a=2 b=2 c=2
        (5, t60_half, "z", "s", 350),      # a=2 b=2 c=2
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.lang: r for r in q_eval_kripp_alpha_ordinal(
        spark, str(tmp_path)).collect()}
    x = out["x"]
    assert (x.n_units, x.n_abstained, x.n_ratings) == (3, 1, 8)
    assert (x.grade_sum, x.grade_sq_sum, x.d_obs) == (15, 35, 24)
    assert x.alpha_micro == -527273
    z = out["z"]
    assert z.d_obs == 0 and z.alpha_micro is None


def test_eval_kripp_alpha_ordinal_matches_textbook_recompute(spark, sf_dir):
    # independent full coincidence-matrix recompute (interval delta,
    # per-unit 1/(m_u-1) weights, pairable-values expectation) on the
    # real fixture — guards the closed form E = 2*(n*S2 - S1^2) and
    # the per-unit clearing against the textbook definition.
    import itertools
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        KRIPP_ABSTAIN_MIN,
        _rater_char_grade,
        _rater_ttr_grade,
        _rater_words_grade,
        q_eval_kripp_alpha_ordinal,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.lang: r.alpha_micro for r in q_eval_kripp_alpha_ordinal(
        spark, sf_dir).collect()}
    graded = load_table(spark, sf_dir, "documents").select(
        "lang",
        _rater_char_grade().alias("a"),
        _rater_words_grade().alias("b"),
        _rater_ttr_grade(KRIPP_ABSTAIN_MIN).alias("c"),
    ).collect()
    by_lang: dict = {}
    for row in graded:
        by_lang.setdefault(row.lang, []).append(
            [v for v in (row.a, row.b, row.c) if v is not None]
        )
    for lang, units in by_lang.items():
        do_num, vals = 0.0, []
        for rs in units:
            if len(rs) < 2:
                continue
            vals.extend(rs)
            do_num += sum(
                (p - q) ** 2 for p, q in itertools.permutations(rs, 2)
            ) / (len(rs) - 1)
        n = len(vals)
        de_num = sum((p - q) ** 2 for p in vals for q in vals)
        if de_num == 0:
            assert lane[lang] is None
            continue
        alpha = 1.0 - (do_num / n) / (de_num / (n * (n - 1)))
        # round-half-away-from-zero, the engines' ROUND convention
        micro = int(math.copysign(
            math.floor(abs(alpha * 1e6) + 0.5), alpha))
        assert lane[lang] == micro, lang


def test_eval_qwk_planted_graded_pair(spark, tmp_path):
    # three docs with hand-pinned (a, b) grades: (1,2), (2,2), (0,3)
    # -> n=3, sa=3, sb=7, saa=5, sbb=17, o2 = 1 + 0 + 9 = 10;
    # den = 3*5 - 2*3*7 + 3*17 = 24; qwk = (24 - 30)/24 = -0.25.
    # The quadratic weighting is visible: nominally all three docs
    # disagree-or-agree equally, but the (0,3) blown call carries
    # 9x the adjacent miss. Plus the degenerate lang: both raters
    # constant on the same grade -> den = 0 -> NULL.
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_eval_qwk,
    )

    t60 = " ".join(f"u{i}" for i in range(60))       # b=2 (55<=60<80)
    t85 = " ".join(f"w{i}" for i in range(85))       # b=3 (>=80)
    t30 = " ".join(f"v{i}" for i in range(31))       # b=1 (30<=31<55)
    rows = [
        (1, t60, "x", "s", 260),   # a=1 (250<300), b=2
        (2, t60, "x", "s", 350),   # a=2 (300<450), b=2
        (3, t85, "x", "s", 100),   # a=0 (<150),    b=3
        (4, t30, "z", "s", 200),   # a=1 (150<=200<300), b=1
        (5, t30, "z", "s", 200),   # a=1, b=1
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {r.lang: r for r in q_eval_qwk(spark, str(tmp_path)).collect()}
    x = out["x"]
    assert (x.n_docs, x.sa, x.sb, x.saa, x.sbb, x.o2) == (3, 3, 7, 5, 17, 10)
    assert x.qwk_micro == -250_000
    z = out["z"]
    assert z.o2 == 0 and z.qwk_micro is None


def test_eval_qwk_matches_textbook_contingency(spark, sf_dir):
    # independent full 4x4 contingency-table recompute (quadratic
    # weights against the marginal-product chance model) on the real
    # fixture — guards the sufficient-statistic collapse
    # den = N*Saa - 2*Sa*Sb + N*Sbb against Cohen's 1968 definition.
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        _rater_char_grade,
        _rater_words_grade,
        q_eval_qwk,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    lane = {r.lang: r.qwk_micro for r in q_eval_qwk(spark, sf_dir).collect()}
    graded = load_table(spark, sf_dir, "documents").select(
        "lang",
        _rater_char_grade().alias("a"),
        _rater_words_grade().alias("b"),
    ).collect()
    by_lang: dict = {}
    for row in graded:
        by_lang.setdefault(row.lang, []).append((row.a, row.b))
    for lang, pairs in by_lang.items():
        n = len(pairs)
        obs = [[0] * 4 for _ in range(4)]
        for a, b in pairs:
            obs[a][b] += 1
        rm = [sum(obs[i]) for i in range(4)]
        cm = [sum(obs[i][j] for i in range(4)) for j in range(4)]
        num = sum((i - j) ** 2 * obs[i][j]
                  for i in range(4) for j in range(4))
        den = sum((i - j) ** 2 * rm[i] * cm[j] / n
                  for i in range(4) for j in range(4))
        if den == 0:
            assert lane[lang] is None
            continue
        qwk = 1.0 - num / den
        micro = int(math.copysign(
            math.floor(abs(qwk * 1e6) + 0.5), qwk))
        assert lane[lang] == micro, lang


def test_eval_fleiss_kappa_planted_panel(spark, tmp_path):
    # three docs: unanimous keep (k1=3, s=9), a 2-1 split (s=5), and
    # unanimous drop (s=9) -> N=3, T=5, S=23: P_o = 14/18 -> 777778;
    # kappa = (3N(S-3N) - 2*pe)/(18N^2 - 2*pe) = (126-82)/(162-82)
    # = 44/80 -> 550000
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_eval_fleiss_kappa,
    )

    w50 = " ".join(f"w{i}" for i in range(50))
    rows = [
        (1, w50, "x", "s", 300),   # a=1 b=1 c=1
        (2, w50, "x", "s", 299),   # a=0 b=1 c=1
        (3, "w w", "x", "s", 100),  # a=0 b=0 c=0 (TTR 1/2 < 0.7)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    r, = q_eval_fleiss_kappa(spark, str(tmp_path)).collect()
    assert (r.n_docs, r.t_keep, r.s_sum) == (3, 5, 23)
    assert r.po_micro == 777778
    assert r.kappa_micro == 550000


def test_metric_cuped_matches_python_recompute(spark, sf_dir):
    # full exact-integer recompute: per-customer period sums, pooled
    # sufficient statistics, the signed half-away theta division, the
    # half-up arm/pooled means, and the signed adjustment term.
    import datetime as dt
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        CUPED_SPLIT_DATE,
        q_metric_cuped,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    out = {r.arm: r for r in q_metric_cuped(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    ).collect()
    split = dt.date.fromisoformat(CUPED_SPLIT_DATE)
    units: dict[int, list[int]] = {}
    for r in orders:
        cents = int(round(r.o_totalprice * 100))
        y, x = units.setdefault(r.o_custkey, [0, 0])
        odate = r.o_orderdate
        if hasattr(odate, "date"):  # fixture stores a timestamp
            odate = odate.date()
        if odate < split:
            units[r.o_custkey][1] = x + cents
        else:
            units[r.o_custkey][0] = y + cents

    def half_up(num, den):
        return (2 * num + den) // (2 * den)

    def signed_half_away(num, den):
        if num < 0:
            return -((2 * -num + den) // (2 * den))
        return (2 * num + den) // (2 * den)

    n = len(units)
    sx = sum(x for _, x in units.values())
    sy = sum(y for y, _ in units.values())
    sxy = sum(x * y for y, x in units.values())
    sxx = sum(x * x for _, x in units.values())
    cov_num = n * sxy - sx * sy
    var_num = n * sxx - sx * sx
    theta = signed_half_away(10**6 * cov_num, var_num) if var_num else 0
    xbar = half_up(10**4 * sx, n)
    for arm_name in ("A", "B"):
        members = [
            (y, x)
            for u, (y, x) in units.items()
            if (
                hashlib.md5(str(u).encode()).hexdigest()[:4]
                < AB_SPLIT_BOUND
            )
            == (arm_name == "A")
        ]
        n_u = len(members)
        my = half_up(10**4 * sum(y for y, _ in members), n_u)
        mx = half_up(10**4 * sum(x for _, x in members), n_u)
        adj = my - signed_half_away(theta * (mx - xbar), 10**6)
        row = out[arm_name]
        assert (row.n_units, row.theta_micro, row.xbar_micro) == (
            n_u, theta, xbar,
        )
        assert (row.mean_y_micro, row.mean_x_micro) == (my, mx)
        assert row.adj_mean_micro == adj
    # the fixture's pre/post spend is genuinely correlated — theta
    # must be a real adjustment, not a degenerate 0
    assert out["A"].theta_micro != 0


def test_metric_cuped_planted_covariate_shrinks_ci(spark, tmp_path):
    # plant Y = X + effect*1[arm B] with X spread >> effect: CUPED's
    # adjusted per-unit values collapse to near-constants per arm, so
    # the cluster-bootstrap CI width of the adjusted diff (recomputed
    # in python with bootstrap_ci_diff's own d:-salted weights) must
    # shrink vs the raw-metric CI width from q_bootstrap_ci_diff —
    # VERDICT r13 #3's acceptance criterion. Also pins theta ~ 1.
    import datetime as dt
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_bootstrap_ci_diff,
        q_metric_cuped,
    )
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BOOT_B,
        _POIS_CUM,
    )

    def arm_a(u):
        return hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    # X varies 100x across customers; arm B gets a +50.00 effect in
    # the experiment period only.
    pre = dt.date(1996, 1, 1)
    post = dt.date(1999, 1, 1)
    rows = []
    for u in range(1, 61):
        x_cents = 10_000 * (1 + (u % 10))  # 100.00 .. 1000.00
        eff = 0 if arm_a(u) else 5_000
        rows.append((2 * u, u, x_cents / 100.0, pre))
        rows.append((2 * u + 1, u, (x_cents + eff) / 100.0, post))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate date",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {r.arm: r for r in q_metric_cuped(spark, str(tmp_path)).collect()}
    # theta ~ 1 (pre spend predicts experiment spend 1:1)
    assert 900_000 <= out["A"].theta_micro <= 1_100_000
    # adjusted diff isolates the planted +50.00 effect (micro-dollars)
    adj_diff = out["B"].adj_mean_micro - out["A"].adj_mean_micro
    assert abs(adj_diff - 50_000_000) <= 2_000_000

    ci = q_bootstrap_ci_diff(spark, str(tmp_path)).collect()[0]
    width_raw = ci.ci_hi_micro - ci.ci_lo_micro

    # python cluster bootstrap of the ADJUSTED metric with the same
    # d:-salted Poisson weights bootstrap_ci_diff uses
    def pois_w(key):
        u8 = hashlib.md5(key.encode()).hexdigest()[:8]
        for k, t in enumerate(_POIS_CUM):
            if u8 < t:
                return k
        return 8

    theta = out["A"].theta_micro
    xbar = out["A"].xbar_micro
    units = {}
    for _, u, price, d in rows:
        y, x = units.setdefault(u, [0, 0])
        cents = int(round(price * 100))
        if d < dt.date(1998, 1, 1):
            units[u][1] = x + cents
        else:
            units[u][0] = y + cents

    ds = []
    for b in range(BOOT_B):
        sa = sb = na = nb = 0
        for u, (y, x) in units.items():
            w = pois_w(f"d:{u}:{b}")
            if w == 0:
                continue
            # adjusted per-unit value in micro-dollars
            xm = (2 * 10**4 * x + 1) // 2  # exact: x*1e4
            av = 10**4 * y - (
                (2 * theta * (xm - xbar) + 10**6) // (2 * 10**6)
                if theta * (xm - xbar) >= 0
                else -((2 * -(theta * (xm - xbar)) + 10**6) // (2 * 10**6))
            )
            if arm_a(u):
                na += w
                sa += w * av
            else:
                nb += w
                sb += w * av
        if na == 0 or nb == 0:
            continue
        ds.append((2 * sb + nb) // (2 * nb) - (2 * sa + na) // (2 * na))
    ds.sort()
    n_rep = len(ds)
    lo = ds[(25 * n_rep + 999) // 1000 - 1]
    hi = ds[(975 * n_rep + 999) // 1000 - 1]
    width_adj = hi - lo
    assert width_adj < width_raw / 2  # the variance reduction is real


def test_metric_cuped_zero_variance_covariate_degrades_to_raw(
    spark, tmp_path
):
    # every customer has the SAME pre-period spend -> var(X) = 0 ->
    # theta pinned to 0 and the adjusted mean equals the raw mean
    # (the production no-op, not a NULL).
    import datetime as dt

    rows = []
    for u in range(1, 31):
        rows.append((2 * u, u, 100.0, dt.date(1996, 1, 1)))
        rows.append((2 * u + 1, u, float(100 + u), dt.date(1999, 1, 1)))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate date",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_metric_cuped,
    )

    for r in q_metric_cuped(spark, str(tmp_path)).collect():
        assert r.theta_micro == 0
        assert r.adj_mean_micro == r.mean_y_micro


def test_rank_test_u_matches_python_recompute(spark, sf_dir):
    # full recompute: pooled tie-aware double-ranks, exact U, the
    # u:-salted customer-level relabelings, the cross-multiplied
    # two-sided compare, and the add-one p — scipy-free, pure ints.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_rank_test_u,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        PERM_B,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    row, = q_rank_test_u(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect()
    vals = sorted({r.o_totalprice for r in orders})
    cnt = {}
    for r in orders:
        cnt[r.o_totalprice] = cnt.get(r.o_totalprice, 0) + 1
    below, dr = 0, {}
    for v in vals:
        dr[v] = 2 * below + cnt[v] + 1
        below += cnt[v]
    data = [(r.o_custkey, dr[r.o_totalprice]) for r in orders]

    def gate(s):
        return hashlib.md5(s.encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    def num_of(arm_of):
        n_a = n_b = sdr = 0
        for unit, d in data:
            if arm_of(unit):
                n_a += 1
                sdr += d
            else:
                n_b += 1
        if n_a == 0 or n_b == 0:
            return None, n_a, n_b, None
        u_x2 = sdr - n_a * (n_a + 1)
        return u_x2 - n_a * n_b, n_a, n_b, u_x2

    num_obs, n_a, n_b, u_x2 = num_of(lambda u: gate(str(u)))
    assert (row.n_a, row.n_b, row.u_x2) == (n_a, n_b, u_x2)
    den = 2 * n_a * n_b
    assert row.auc_micro == (2 * 10**6 * u_x2 + den) // (2 * den)
    n_perms = n_ge = 0
    for p in range(1, PERM_B + 1):
        num_p, pn_a, pn_b, _ = num_of(lambda u: gate(f"u:{u}:{p}"))
        if num_p is None:
            continue
        n_perms += 1
        if abs(num_p) * n_a * n_b >= abs(num_obs) * pn_a * pn_b:
            n_ge += 1
    assert (row.n_perms, row.n_ge) == (n_perms, n_ge)
    p_exp = (2 * 10**6 * (n_ge + 1) + (n_perms + 1)) // (2 * (n_perms + 1))
    assert row.p_micro == p_exp
    # the U statistic agrees with rank_mannwhitney's rank machinery
    # by construction (both are sum-of-double-ranks); the u: salt is
    # independent of the p:/pr: streams
    assert hashlib.md5(b"u:1:1").hexdigest() != hashlib.md5(b"p:1:1").hexdigest()


def test_rank_test_u_planted_effects(spark, tmp_path):
    # no effect: every order the same price -> all double-ranks equal
    # -> num = 0 for the observed split AND every relabeling -> p = 1.
    # strong effect: arm A orders all outspend arm B -> U = n_a*n_b
    # (AUC = 1.0), no relabeling reaches the max deviation -> p = 1/100.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_rank_test_u,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
    )

    def arm_a(u):
        return hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    def write(rows, d):
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_totalprice double"
        ).write.parquet(f"{d}/orders.parquet")

    write([(i, i, 100.0) for i in range(1, 81)], f"{tmp_path}/flat")
    r, = q_rank_test_u(spark, f"{tmp_path}/flat").collect()
    assert r.auc_micro == 500_000  # all ties: U/(n_a*n_b) = 1/2 exactly
    assert (r.n_perms, r.n_ge, r.p_micro) == (99, 99, 1_000_000)

    planted = [
        (i, i, 200.0 + i if arm_a(i) else 100.0 + i * 0.25)
        for i in range(1, 81)
    ]
    write([(i, u, p) for i, u, p in planted], f"{tmp_path}/effect")
    r, = q_rank_test_u(spark, f"{tmp_path}/effect").collect()
    assert r.u_x2 == 2 * r.n_a * r.n_b  # complete separation
    assert r.auc_micro == 1_000_000
    assert r.n_perms == 99 and r.n_ge == 0
    assert r.p_micro == 10_000


def test_fdr_bh_matches_python_recompute(spark, sf_dir):
    # hashlib recompute of the f:-salted per-segment permutation
    # tests plus the integer BH walk (candidates, reversed running
    # min, the alpha verdict).
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        FDR_ALPHA_MICRO,
        PERM_B,
        q_fdr_bh,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    out = {r.seg: r for r in q_fdr_bh(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    ).collect()
    segs = sorted({r.o_orderpriority for r in orders})
    data = {
        s: [
            (r.o_custkey, int(round(r.o_totalprice * 100)))
            for r in orders
            if r.o_orderpriority == s
        ]
        for s in segs
    }

    def gate(s):
        return hashlib.md5(s.encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    def d_micro(rows, arm_of):
        n_a = n_b = s_a = s_b = 0
        for u, c in rows:
            if arm_of(u):
                n_a += 1
                s_a += c
            else:
                n_b += 1
                s_b += c
        if n_a == 0 or n_b == 0:
            return None
        ua = (2 * 10**4 * s_a + n_a) // (2 * n_a)
        ub = (2 * 10**4 * s_b + n_b) // (2 * n_b)
        return ub - ua

    pvals = {}
    for s in segs:
        d_obs = d_micro(data[s], lambda u: gate(str(u)))
        n_perms = n_ge = 0
        for p in range(1, PERM_B + 1):
            d_p = d_micro(data[s], lambda u: gate(f"f:{u}:{p}"))
            if d_p is None:
                continue
            n_perms += 1
            if abs(d_p) >= abs(d_obs):
                n_ge += 1
        pvals[s] = (
            (2 * 10**6 * (n_ge + 1) + (n_perms + 1))
            // (2 * (n_perms + 1))
        )
        assert out[s].p_micro == pvals[s]
    m = len(segs)
    order = sorted(segs, key=lambda s: (pvals[s], s))
    cands = [
        (2 * pvals[s] * m + k) // (2 * k)
        for k, s in enumerate(order, start=1)
    ]
    for i, s in enumerate(order):
        p_adj = min(min(cands[i:]), 10**6)
        row = out[s]
        assert (row.m, row.rnk) == (m, i + 1)
        assert row.p_adj_micro == p_adj
        assert row.rejected == (p_adj <= FDR_ALPHA_MICRO)


def test_fdr_bh_planted_one_effect_survives(spark, tmp_path):
    # five segments: one with a real arm effect (complete separation),
    # four null. BH at alpha = .05 with m = 5: the effect's adjusted
    # p is min(1/100 * 5/1, ...) = 0.05 -> rejected; the nulls'
    # adjusted p stays 1.0 -> kept. Uncorrected, the effect's raw
    # p = 0.01 would also pass 0.05 — the lane's value is that the
    # nulls' raw p = 1.0 never sneaks under after adjustment.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_fdr_bh,
    )

    def arm_a(u):
        return hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    rows = []
    segs = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    k = 0
    for si, seg in enumerate(segs):
        for j in range(40):
            k += 1
            if si == 0:  # the planted effect segment
                price = 500.0 + k if arm_a(k) else 100.0 + k * 0.25
            else:  # null: same price everywhere
                price = 150.0
            rows.append((k, k, seg, price))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderpriority string,"
        " o_totalprice double",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {r.seg: r for r in q_fdr_bh(spark, str(tmp_path)).collect()}
    assert len(out) == 5
    eff = out["1-URGENT"]
    assert eff.p_micro == 10_000 and eff.rnk == 1
    assert eff.p_adj_micro == 50_000 and eff.rejected
    for seg in segs[1:]:
        r = out[seg]
        assert r.p_micro == 1_000_000
        assert r.p_adj_micro == 1_000_000 and not r.rejected


def test_chisq_independence_matches_python_recompute(spark, sf_dir):
    # exact recompute of the pinned two-step per-cell sequence
    # (e_u half-up, dev, dev^2/e_u half-up), zero-cell synthesis,
    # df, and the pinned critical-value verdict.
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        _CHISQ_CRIT_MICRO,
        q_chisq_independence,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    row, = q_chisq_independence(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    ).collect()
    cells = {}
    for r in orders:
        cells[(r.o_orderpriority, r.o_orderstatus)] = (
            cells.get((r.o_orderpriority, r.o_orderstatus), 0) + 1
        )
    prs = sorted({p for p, _ in cells})
    sts = sorted({s for _, s in cells})
    n = len(orders)
    rt = {p: sum(v for (pp, _), v in cells.items() if pp == p) for p in prs}
    ct = {s: sum(v for (_, ss), v in cells.items() if ss == s) for s in sts}
    chi2 = 0
    for p in prs:
        for s in sts:
            obs = cells.get((p, s), 0)
            e_u = (2 * 10**6 * rt[p] * ct[s] + n) // (2 * n)
            dev = 10**6 * obs - e_u
            assert e_u > 0
            chi2 += (2 * dev * dev + e_u) // (2 * e_u)
    df = (len(prs) - 1) * (len(sts) - 1)
    assert (row.n_total, row.n_rows, row.n_cols, row.df) == (
        n, len(prs), len(sts), df,
    )
    assert row.chi2_micro == chi2
    assert row.crit_micro == _CHISQ_CRIT_MICRO[df]
    assert row.dependent == (chi2 > _CHISQ_CRIT_MICRO[df])


def test_chisq_independence_planted_association(spark, tmp_path):
    # independent: status assigned round-robin within each priority
    # with identical proportions -> chi2 ~ 0 -> not dependent.
    # associated: each priority maps to exactly one status ->
    # chi2 = N*(min(r,c)-1) >> crit -> dependent. A zero cell is
    # present by construction in the associated fixture (synthesized
    # cells with O = 0 must contribute their E > 0 terms).
    def write(rows, d):
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_orderpriority string,"
            " o_orderstatus string",
        ).write.parquet(f"{d}/orders.parquet")

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_chisq_independence,
    )

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    stats = ["O", "F", "P"]
    indep = [
        (i, prios[i % 3], stats[(i // 3) % 3]) for i in range(90)
    ]
    write(indep, f"{tmp_path}/indep")
    r, = q_chisq_independence(spark, f"{tmp_path}/indep").collect()
    assert r.df == 4 and r.chi2_micro == 0 and not r.dependent

    assoc = [(i, prios[i % 3], stats[i % 3]) for i in range(90)]
    write(assoc, f"{tmp_path}/assoc")
    r, = q_chisq_independence(spark, f"{tmp_path}/assoc").collect()
    # perfect association: chi2 = N*(k-1) = 90*2 = 180 exactly
    assert r.df == 4 and r.chi2_micro == 180_000_000 and r.dependent


def test_power_mde_matches_python_recompute(spark, sf_dir):
    # exact recompute of the moments, the pinned two-sqrt IEEE
    # finisher, and the relative-MDE pinned division.
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        POWER_Z_SUM_MICRO,
        q_power_mde,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    out = {r.status: r for r in q_power_mde(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    ).collect()
    groups = {}
    for r in orders:
        groups.setdefault(r.o_orderstatus, []).append(
            int(round(r.o_totalprice * 100))
        )

    def half_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    for st, ys in groups.items():
        n = len(ys)
        sy = sum(ys)
        syy = sum(y * y for y in ys)
        v = n * syy - sy * sy
        row = out[st]
        assert row.n == n
        assert row.mean_micro == (2 * 10**4 * sy + n) // (2 * n)
        sd = half_away(10000.0 * math.sqrt(float(v)) / math.sqrt(float(n) * (n - 1)))
        assert row.sd_micro == sd
        mde = half_away(
            float(POWER_Z_SUM_MICRO)
            * math.sqrt(2.0 * float(v))
            / (float(n) * math.sqrt(float(n - 1)))
            / 100.0
        )
        assert row.mde_abs_micro == mde
        rel = (2 * 10**6 * mde + row.mean_micro) // (2 * row.mean_micro)
        assert row.mde_rel_micro == rel
        # sanity: more data or less variance shrinks the MDE — the
        # absolute MDE must sit well below the mean on this fixture
        assert 0 < mde < row.mean_micro


def test_power_mde_planted_scaling(spark, tmp_path):
    # constant metric -> V = 0 -> MDE exactly 0 (a zero-variance
    # metric detects any effect); and quadrupling n at fixed variance
    # halves the MDE (the 1/sqrt(n) law) up to quantization.
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_power_mde,
    )

    def write(rows, d):
        spark.createDataFrame(
            rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
        ).write.parquet(f"{d}/orders.parquet")

    write([(i, "O", 100.0) for i in range(1, 41)], f"{tmp_path}/const")
    r, = q_power_mde(spark, f"{tmp_path}/const").collect()
    assert r.sd_micro == 0 and r.mde_abs_micro == 0 and r.mde_rel_micro == 0

    base = [(i, "O", 100.0 + (i % 2)) for i in range(1, 41)]
    quad = [(i, "O", 100.0 + (i % 2)) for i in range(1, 161)]
    write(base, f"{tmp_path}/n40")
    write(quad, f"{tmp_path}/n160")
    r40, = q_power_mde(spark, f"{tmp_path}/n40").collect()
    r160, = q_power_mde(spark, f"{tmp_path}/n160").collect()
    # per-unit sd agrees up to the Bessel correction's n-dependence
    assert abs(r40.sd_micro - r160.sd_micro) < 10_000
    ratio = r40.mde_abs_micro / r160.mde_abs_micro
    assert 1.9 < ratio < 2.1  # 1/sqrt(4) = half, modulo Bessel + micro


def test_stream_srm_planted_one_armed_segment_alerts(spark, tmp_path):
    # plant a segment whose exposures all land in arm A (every
    # user_id chosen so the md5 gate is True): that type alerts at
    # the 10.828 critical value, a balanced type does not, and the
    # (all) row reflects the pooled imbalance.
    import datetime as dt
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
    )
    from data_ingestion_s3_to_parquet_spark.streaming.windows import (
        q_stream_srm,
    )

    def arm_a(u):
        return hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    a_users = [u for u in range(1, 400) if arm_a(u)][:40]
    b_users = [u for u in range(1, 400) if not arm_a(u)][:20]
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # "broken" type: only arm-A users ever log it
    for u in a_users:
        eid += 1
        rows.append((eid, base, u, "broken", 1.0))
    # "healthy" type: 20 from each arm
    for u in a_users[:20] + b_users:
        eid += 1
        rows.append((eid, base, u, "healthy", 1.0))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {r.event_type: r for r in q_stream_srm(spark, str(tmp_path)).collect()}
    br = out["broken"]
    assert (br.n_a, br.n_b) == (40, 0) and br.srm_alert
    assert br.chi2_micro == 40_000_000  # (40-0)^2/40 = 40 exactly
    he = out["healthy"]
    assert (he.n_a, he.n_b) == (20, 20) and not he.srm_alert
    assert he.chi2_micro == 0
    al = out["(all)"]
    assert (al.n_a, al.n_b) == (60, 20)


def test_eval_pass_at_k_matches_python_recompute(spark, sf_dir):
    # recompute the exact k-step pinned division sequence AND
    # cross-check it against the float closed form within the
    # documented k/2-micro quantization drift.
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        PASS_AT_KS,
        PASS_GATE_MIN_CHARS,
        q_eval_pass_at_k,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    out = {r.lang: r for r in q_eval_pass_at_k(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "n_chars"
    ).collect()
    groups = {}
    for r in docs:
        n, c = groups.get(r.lang, (0, 0))
        groups[r.lang] = (n + 1, c + (r.n_chars >= PASS_GATE_MIN_CHARS))
    for lang, (n, c) in groups.items():
        row = out[lang]
        assert (row.n_samples, row.n_correct) == (n, c)
        q = 10**6
        qs = {}
        for i in range(max(PASS_AT_KS)):
            if n - c - i <= 0 or q == 0:
                q = 0
            else:
                q = (2 * q * (n - c - i) + (n - i)) // (2 * (n - i))
            qs[i + 1] = q
        for k in PASS_AT_KS:
            got = getattr(row, f"pass{k}_micro")
            if n < k:
                assert got is None
                continue
            assert got == 10**6 - qs[k]
            # float closed form agrees within the documented drift
            prod = 1.0
            for i in range(k):
                prod *= max(n - c - i, 0) / (n - i)
            assert abs(got - round(10**6 * (1 - prod))) <= k


def test_eval_pass_at_k_planted_boundaries(spark, tmp_path):
    # n = c (everything passes): pass@k = 1 exactly for all k.
    # c = 0: pass@k = 0 exactly. c = 1, n = 5: pass@1 = 1/5 and
    # pass@5 = 1 exactly (n - c < k clamps); k = 10 > n -> NULL.
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_eval_pass_at_k,
    )

    rows = []
    did = 0
    for _ in range(5):  # lang "all": every doc passes the gate
        did += 1
        rows.append((did, "x" * 300, "all", "s", 300))
    for _ in range(5):  # lang "none": nothing passes
        did += 1
        rows.append((did, "x", "none", "s", 1))
    for i in range(5):  # lang "one": exactly one passes
        did += 1
        rows.append((did, "x", "one", "s", 300 if i == 0 else 1))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {r.lang: r for r in q_eval_pass_at_k(spark, str(tmp_path)).collect()}
    assert (out["all"].pass1_micro, out["all"].pass5_micro) == (
        1_000_000, 1_000_000,
    )
    assert (out["none"].pass1_micro, out["none"].pass5_micro) == (0, 0)
    assert out["one"].pass1_micro == 200_000  # 1/5 exactly
    assert out["one"].pass5_micro == 1_000_000  # n-c=4 < 5 clamps to 1
    assert out["one"].pass10_micro is None  # k > n, the Codex rule


def test_survival_km_matches_python_recompute(spark, sf_dir):
    # exact recompute: per-user first event / first error / last
    # event in integer microseconds, death-vs-censoring bucketing,
    # at-risk recursion, and the pinned per-bucket survival chain.
    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        KM_HORIZON_DAYS,
        q_survival_km,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    out = {r.day: r for r in q_survival_km(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "event_type",
    ).collect()
    users = {}
    for r in ev:
        t0, terr, tl = users.get(r.user_id, (None, None, None))
        t0 = r.us if t0 is None else min(t0, r.us)
        tl = r.us if tl is None else max(tl, r.us)
        if r.event_type == "error":
            terr = r.us if terr is None else min(terr, r.us)
        users[r.user_id] = (t0, terr, tl)
    H = KM_HORIZON_DAYS
    US_DAY = 86_400_000_000
    d = [0] * (H + 1)
    rr = [0] * (H + 1)
    for t0, terr, tl in users.values():
        if terr is not None and (terr - t0) // US_DAY <= H - 1:
            b = (terr - t0) // US_DAY
            d[b] += 1
            rr[b] += 1
        else:
            b = min((tl - t0) // US_DAY, H)
            rr[b] += 1
    n = len(users)
    s = 10**6
    for b in range(H + 1):
        if n > 0 and s > 0:
            s = (2 * s * (n - d[b]) + n) // (2 * n)
        row = out[b]
        assert (row.n_risk, row.n_death, row.n_censor) == (
            n, d[b], rr[b] - d[b],
        )
        assert row.s_micro == s
        n -= rr[b]
    assert len(out) == H + 1
    # everyone eventually errors or censors: at-risk drains to zero
    assert out[H].n_risk - rr[H] == 0 or out[H].n_risk >= 0


def test_survival_km_planted_censoring(spark, tmp_path):
    # 10 users: 4 die on day 1 (error), 3 censored on day 2 (last
    # seen, no error), 3 survive past the horizon (censored at 7).
    # Hand-computed KM: S(0) = 1, S(1) = 1 - 4/10 = 0.6, flat after
    # (no later deaths) — and the day-2 censorings must NOT count as
    # deaths (the naive error-share-by-day would claim 40% at day 1
    # only because censoring was ignored; with fewer observed users
    # it could not distinguish 4/10 from 4/7).
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_survival_km,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def add(u, days, typ):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, base + dt.timedelta(days=days, minutes=u), u, typ, 1.0)
        )

    for u in range(1, 5):  # deaths at day 1
        add(u, 0, "signup")
        add(u, 1, "error")
    for u in range(5, 8):  # censored at day 2
        add(u, 0, "signup")
        add(u, 2, "click")
    for u in range(8, 11):  # survive the horizon: last seen day 9
        add(u, 0, "signup")
        add(u, 9, "click")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = {r.day: r for r in q_survival_km(spark, str(tmp_path)).collect()}
    assert (out[0].n_risk, out[0].n_death, out[0].s_micro) == (
        10, 0, 1_000_000,
    )
    assert (out[1].n_risk, out[1].n_death, out[1].n_censor) == (10, 4, 0)
    assert out[1].s_micro == 600_000  # 1 - 4/10 exactly
    assert (out[2].n_risk, out[2].n_death, out[2].n_censor) == (6, 0, 3)
    assert out[2].s_micro == 600_000  # censoring never moves S
    assert (out[7].n_risk, out[7].n_censor) == (3, 3)  # horizon
    assert out[7].s_micro == 600_000


def test_tokenizer_vocab_overlap_matches_python_recompute(spark, sf_dir):
    # exact recompute of the (count DESC, token ASC) heads, the pair
    # set intersections, and both pinned micro divisions.
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        VOCAB_OVERLAP_K,
        q_tokenizer_vocab_overlap,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    out = {
        (r.lang_a, r.lang_b): r
        for r in q_tokenizer_vocab_overlap(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "text"
    ).collect()
    counts = {}
    for r in docs:
        for w in r.text.split(" "):
            counts[(r.lang, w)] = counts.get((r.lang, w), 0) + 1
    langs = sorted({l for l, _ in counts})
    heads = {}
    for lang in langs:
        toks = sorted(
            ((n, w) for (l, w), n in counts.items() if l == lang),
            key=lambda t: (-t[0], t[1]),
        )
        heads[lang] = {w for _, w in toks[:VOCAB_OVERLAP_K]}
    n_pairs = 0
    for i, la in enumerate(langs):
        for lb in langs[i + 1:]:
            n_pairs += 1
            a, b = heads[la], heads[lb]
            sh = len(a & b)
            row = out[(la, lb)]
            assert (row.n_a, row.n_b, row.n_shared) == (
                len(a), len(b), sh,
            )
            den_j = len(a) + len(b) - sh
            assert row.jaccard_micro == (
                (2 * 10**6 * sh + den_j) // (2 * den_j)
            )
            den_o = min(len(a), len(b))
            assert row.overlap_micro == (
                (2 * 10**6 * sh + den_o) // (2 * den_o)
            )
    assert len(out) == n_pairs


def test_tokenizer_vocab_overlap_planted_pairs(spark, tmp_path):
    # three languages: two sharing exactly half their head tokens,
    # one fully disjoint (its pair rows must still appear, at 0).
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_tokenizer_vocab_overlap,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    a_only = " ".join(f"a{i}" for i in range(10))
    b_only = " ".join(f"b{i}" for i in range(10))
    c_only = " ".join(f"c{i}" for i in range(20))
    rows = [
        (1, f"{shared} {a_only}", "aa", "s", 1),
        (2, f"{shared} {b_only}", "bb", "s", 1),
        (3, c_only, "cc", "s", 1),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        (r.lang_a, r.lang_b): r
        for r in q_tokenizer_vocab_overlap(spark, str(tmp_path)).collect()
    }
    ab = out[("aa", "bb")]
    assert (ab.n_a, ab.n_b, ab.n_shared) == (20, 20, 10)
    assert ab.jaccard_micro == 333_333  # 10/30 half-up
    assert ab.overlap_micro == 500_000  # 10/20 exactly
    ac = out[("aa", "cc")]
    assert ac.n_shared == 0 and ac.jaccard_micro == 0
    assert len(out) == 3  # every unordered pair appears


def test_fdr_holm_matches_python_recompute_and_shares_pvalues(
    spark, sf_dir
):
    # the Holm walk recomputed exactly AND the p-value columns pinned
    # bitwise-equal to fdr_bh's (the two corrections must read the
    # SAME f:-salted draw — that is the lane contract).
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        FDR_ALPHA_MICRO,
        q_fdr_bh,
        q_fdr_holm,
    )

    holm = {r.seg: r for r in q_fdr_holm(spark, sf_dir).collect()}
    bh = {r.seg: r for r in q_fdr_bh(spark, sf_dir).collect()}
    assert set(holm) == set(bh)
    for seg in holm:
        assert holm[seg].p_micro == bh[seg].p_micro
        assert (holm[seg].n_perms, holm[seg].n_ge) == (
            bh[seg].n_perms, bh[seg].n_ge,
        )
    m = len(holm)
    order = sorted(holm, key=lambda s: (holm[s].p_micro, s))
    run_max = 0
    for k, seg in enumerate(order, start=1):
        run_max = max(run_max, (m - k + 1) * holm[seg].p_micro)
        p_adj = min(run_max, 10**6)
        assert holm[seg].rnk == k
        assert holm[seg].p_adj_micro == p_adj
        assert holm[seg].rejected == (p_adj <= FDR_ALPHA_MICRO)
        # FWER is uniformly no more liberal than FDR: a Holm
        # rejection implies the BH rejection on the same p-values
        if holm[seg].rejected:
            assert bh[seg].rejected
        assert holm[seg].p_adj_micro >= bh[seg].p_adj_micro
        # and adjusted p's are monotone along the rank order
        if k > 1:
            prev = order[k - 2]
            assert holm[seg].p_adj_micro >= holm[prev].p_adj_micro


def test_fdr_holm_planted_effect_at_bonferroni_edge(spark, tmp_path):
    # the wave-3 fixture: one real effect among four nulls. Holm's
    # smallest adjusted p is m*p = 5 * 0.01 = 0.05 -> rejected at
    # exactly alpha (same edge as BH's k=1 candidate); the nulls'
    # adjusted p caps at 1.0 and survives nothing.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_fdr_holm,
    )

    def arm_a(u):
        return hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    rows = []
    segs = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    k = 0
    for si, seg in enumerate(segs):
        for _ in range(40):
            k += 1
            if si == 0:
                price = 500.0 + k if arm_a(k) else 100.0 + k * 0.25
            else:
                price = 150.0
            rows.append((k, k, seg, price))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderpriority string,"
        " o_totalprice double",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {r.seg: r for r in q_fdr_holm(spark, str(tmp_path)).collect()}
    eff = out["1-URGENT"]
    assert eff.p_micro == 10_000 and eff.rnk == 1
    assert eff.p_adj_micro == 50_000 and eff.rejected
    for seg in segs[1:]:
        assert out[seg].p_adj_micro == 1_000_000
        assert not out[seg].rejected


def test_sample_alloc_executed_matches_python_recompute(spark, sf_dir):
    # the two-phase draw must equal the naive per-stratum
    # "sort by (md5, key), take min(alloc, N_h)" recomputed in
    # python — boundary-bucket ranking included — plus the pinned
    # means and the n_drawn invariant.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        q_sample_alloc_executed,
        q_sample_alloc_neyman,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    out = {r.status: r for r in q_sample_alloc_executed(spark, sf_dir).collect()}
    alloc = {
        r.status: r.alloc
        for r in q_sample_alloc_neyman(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).collect()
    groups = {}
    for r in orders:
        groups.setdefault(r.o_orderstatus, []).append(
            (
                hashlib.md5(str(r.o_orderkey).encode()).hexdigest(),
                r.o_orderkey,
                int(round(r.o_totalprice * 100)),
            )
        )
    for st, rows in groups.items():
        rows.sort()
        k = min(alloc[st], len(rows))
        drawn = rows[:k]
        row = out[st]
        assert (row.n_rows, row.alloc, row.n_drawn) == (
            len(rows), alloc[st], k,
        )
        ssum = sum(c for _, _, c in drawn)
        assert row.drawn_sum_cents == ssum
        assert row.sample_mean_micro == (2 * 10**4 * ssum + k) // (2 * k)
        psum = sum(c for _, _, c in rows)
        n = len(rows)
        assert row.pop_mean_micro == (2 * 10**4 * psum + n) // (2 * n)


def test_sample_alloc_executed_partial_draw_boundary(spark, tmp_path):
    # a fixture big enough that the 10k budget forces PARTIAL draws
    # (boundary-bucket logic exercised): 30k rows over 3 strata ->
    # alloc < N_h somewhere, n_drawn == alloc exactly there, and the
    # drawn set is the md5-order prefix (spot-checked per stratum).
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        NEYMAN_BUDGET,
        q_sample_alloc_executed,
    )

    rows = [
        (i, ["O", "F", "P"][i % 3], float(100 + (i * 37) % 9000) / 1.0)
        for i in range(1, 30_001)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {r.status: r for r in q_sample_alloc_executed(spark, str(tmp_path)).collect()}
    assert sum(r.alloc for r in out.values()) == NEYMAN_BUDGET
    partial = [st for st, r in out.items() if r.alloc < r.n_rows]
    assert partial  # the budget is under the corpus: someone is partial
    for st in partial:
        r = out[st]
        assert r.n_drawn == r.alloc  # exact-k, never over or under
        # recompute the exact prefix sum for one stratum to pin the
        # boundary-bucket tie-break end-to-end
        members = sorted(
            (
                hashlib.md5(str(k).encode()).hexdigest(),
                k,
                int(round((float(100 + (k * 37) % 9000)) * 100)),
            )
            for k, stx, _ in [(i, ["O", "F", "P"][i % 3], 0)
                              for i in range(1, 30_001)]
            if ["O", "F", "P"][k % 3] == st
        )
        ssum = sum(c for _, _, c in members[: r.alloc])
        assert r.drawn_sum_cents == ssum
        break  # one stratum's full recompute is the pin


def test_metric_did_matches_python_recompute(spark, sf_dir):
    # exact recompute of the four cell means and both estimators.
    import datetime as dt
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        CUPED_SPLIT_DATE,
        q_metric_did,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    row, = q_metric_did(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    ).collect()
    split = dt.date.fromisoformat(CUPED_SPLIT_DATE)
    units = {}
    for r in orders:
        cents = int(round(r.o_totalprice * 100))
        y, x = units.setdefault(r.o_custkey, [0, 0])
        od = r.o_orderdate
        if hasattr(od, "date"):
            od = od.date()
        if od < split:
            units[r.o_custkey][1] = x + cents
        else:
            units[r.o_custkey][0] = y + cents

    def half_up(num, den):
        return (2 * num + den) // (2 * den)

    cells = {}
    for arm_name in ("A", "B"):
        mem = [
            (y, x)
            for u, (y, x) in units.items()
            if (
                hashlib.md5(str(u).encode()).hexdigest()[:4]
                < AB_SPLIT_BOUND
            )
            == (arm_name == "A")
        ]
        n = len(mem)
        cells[arm_name] = (
            n,
            half_up(10**4 * sum(y for y, _ in mem), n),
            half_up(10**4 * sum(x for _, x in mem), n),
        )
    assert (row.n_a, row.post_a_micro, row.pre_a_micro) == cells["A"]
    assert (row.n_b, row.post_b_micro, row.pre_b_micro) == cells["B"]
    assert row.d_naive_micro == row.post_b_micro - row.post_a_micro
    assert row.did_micro == (
        (row.post_b_micro - row.pre_b_micro)
        - (row.post_a_micro - row.pre_a_micro)
    )


def test_metric_did_planted_confounded_level(spark, tmp_path):
    # arm B customers are planted with a +200.00 STANDING level gap
    # in BOTH periods plus a +30.00 true experiment effect: the
    # naive post diff reads ~230.00 (confounded); DiD cancels the
    # level and recovers ~30.00 exactly.
    import datetime as dt
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
        q_metric_did,
    )

    def arm_a(u):
        return hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    pre = dt.date(1996, 1, 1)
    post = dt.date(1999, 1, 1)
    rows = []
    for u in range(1, 61):
        base = 100.0 if arm_a(u) else 300.0  # standing level gap
        eff = 0.0 if arm_a(u) else 30.0      # true effect, post only
        rows.append((2 * u, u, base, pre))
        rows.append((2 * u + 1, u, base + eff, post))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate date",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    row, = q_metric_did(spark, str(tmp_path)).collect()
    assert row.d_naive_micro == 230_000_000  # level + effect, confounded
    assert row.did_micro == 30_000_000       # the effect, exactly


def test_eval_lang_confusion_matches_python_recompute(spark, sf_dir):
    # recompute the confusion cells with the marker rules, then every
    # pinned division (P, R, the single-division F1, accuracy,
    # macro-F1) exactly.
    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_eval_lang_confusion,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    out = {r.lang: r for r in q_eval_lang_confusion(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "text"
    ).collect()

    def predict(text):
        padded = f" {text} "
        if " the " in padded:
            return "en"
        if " el " in padded:
            return "es"
        if " le " in padded:
            return "fr"
        if " der " in padded:
            return "de"
        if "的" in padded:
            return "zh"
        return "und"

    cells = {}
    for r in docs:
        p = predict(r.text)
        cells[(r.lang, p)] = cells.get((r.lang, p), 0) + 1
    langs = sorted({l for l, _ in cells})
    n_docs = len(docs)
    n_correct = sum(v for (l, p), v in cells.items() if l == p)

    def half_up(num, den):
        return (2 * num + den) // (2 * den)

    f1s = []
    for lang in langs:
        n_true = sum(v for (l, _), v in cells.items() if l == lang)
        n_pred = sum(v for (_, p), v in cells.items() if p == lang)
        tp = cells.get((lang, lang), 0)
        row = out[lang]
        assert (row.n_true, row.n_pred, row.tp) == (n_true, n_pred, tp)
        if n_pred:
            assert row.precision_micro == half_up(10**6 * tp, n_pred)
        else:
            assert row.precision_micro is None
        assert row.recall_micro == half_up(10**6 * tp, n_true)
        den = 2 * tp + (n_pred - tp) + (n_true - tp)
        f1 = half_up(10**6 * 2 * tp, den) if den else 0
        assert row.f1_micro == f1
        f1s.append(f1)
        assert row.accuracy_micro == half_up(10**6 * n_correct, n_docs)
    macro = half_up(sum(f1s), len(f1s))
    for lang in langs:
        assert out[lang].macro_f1_micro == macro
    # the marker rules genuinely discriminate on this fixture
    assert out["en"].recall_micro > 500_000


def test_eval_lang_confusion_planted_matrix(spark, tmp_path):
    # a hand-built corpus with known confusions: en perfectly
    # recalled; es half-confused into fr (the ' el '/' le ' rules);
    # one lang never predicted (precision NULL, F1 from tp=0 is 0).
    rows = [
        (1, "a the b", "en", "s", 7),
        (2, "c the d", "en", "s", 7),
        (3, "x el y", "es", "s", 6),
        (4, "x le y", "es", "s", 6),   # mislabeled -> predicted fr
        (5, "pure text with nothing", "de", "s", 22),  # -> und
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        q_eval_lang_confusion,
    )

    out = {r.lang: r for r in q_eval_lang_confusion(spark, str(tmp_path)).collect()}
    assert set(out) == {"en", "es", "de"}  # TRUE classes only
    en = out["en"]
    assert (en.tp, en.precision_micro, en.recall_micro, en.f1_micro) == (
        2, 1_000_000, 1_000_000, 1_000_000,
    )
    es = out["es"]
    assert (es.n_true, es.tp) == (2, 1)
    assert es.recall_micro == 500_000
    de = out["de"]
    assert (de.tp, de.n_pred) == (0, 0)
    assert de.precision_micro is None and de.f1_micro == 0
    assert en.accuracy_micro == 600_000  # 3 of 5


def test_sample_size_calc_matches_python_recompute(spark, sf_dir):
    # the sizing columns recomputed from power_mde's own outputs with
    # exact ceil arithmetic, plus the 1%-needs-25x-5% invariant.
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_power_mde,
        q_sample_size_calc,
    )

    mde = {r.status: r for r in q_power_mde(spark, sf_dir).collect()}
    out = {r.status: r for r in q_sample_size_calc(spark, sf_dir).collect()}
    assert set(out) == set(mde)
    for st, r in out.items():
        m = mde[st]
        assert (r.n, r.mde_rel_micro) == (m.n, m.mde_rel_micro)
        for t, col in ((50_000, "n_arm_for_5pct"), (10_000, "n_arm_for_1pct")):
            x = m.n * m.mde_rel_micro * m.mde_rel_micro
            want = (x + t * t - 1) // (t * t)
            assert getattr(r, col) == want
        # the 1% target needs exactly ~25x the 5% target (ceil-level)
        assert r.n_arm_for_1pct >= 24 * r.n_arm_for_5pct


def test_sample_size_calc_planted_zero_variance(spark, tmp_path):
    # a constant metric sizes to 0 for any target (any n detects any
    # effect when sd = 0)
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_sample_size_calc,
    )

    spark.createDataFrame(
        [(i, "O", 42.0) for i in range(1, 31)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    r, = q_sample_size_calc(spark, str(tmp_path)).collect()
    assert r.n_arm_for_5pct == 0 and r.n_arm_for_1pct == 0


def test_survival_logrank_matches_python_recompute(spark, sf_dir):
    # exact recompute of the two-group bucket counters, the at-risk
    # recursions, the split pinned expected/variance sequence, and
    # the final chi-square division + verdict.
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        KM_HORIZON_DAYS,
        LOGRANK_CRIT_MICRO,
        q_survival_logrank,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
    )
    from data_ingestion_s3_to_parquet_spark.sources.catalog import load_table

    row, = q_survival_logrank(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "event_type",
    ).collect()
    users = {}
    for r in ev:
        t0, terr, tl = users.get(r.user_id, (None, None, None))
        t0 = r.us if t0 is None else min(t0, r.us)
        tl = r.us if tl is None else max(tl, r.us)
        if r.event_type == "error":
            terr = r.us if terr is None else min(terr, r.us)
        users[r.user_id] = (t0, terr, tl)
    H = KM_HORIZON_DAYS
    US = 86_400_000_000
    da = [0] * (H + 1)
    ra = [0] * (H + 1)
    db = [0] * (H + 1)
    rb = [0] * (H + 1)
    ua = ub = 0
    for uid, (t0, terr, tl) in users.items():
        is_a = hashlib.md5(str(uid).encode()).hexdigest()[:4] < AB_SPLIT_BOUND
        death = terr is not None and (terr - t0) // US <= H - 1
        b = (terr - t0) // US if death else min((tl - t0) // US, H)
        if is_a:
            ua += 1
            ra[b] += 1
            da[b] += death
        else:
            ub += 1
            rb[b] += 1
            db[b] += death

    def half_up(num, den):
        return (2 * num + den) // (2 * den)

    na, nb = ua, ub
    diff_sum = v_sum = 0
    for b in range(H + 1):
        nt, dt = na + nb, da[b] + db[b]
        if nt > 1 and dt > 0:
            e = half_up(10**6 * dt * na, nt)
            diff_sum += 10**6 * da[b] - e
            v1 = half_up(10**6 * na * nb, nt * nt)
            v_sum += half_up(v1 * dt * (nt - dt), nt - 1)
        na -= ra[b]
        nb -= rb[b]
    chi2 = half_up(diff_sum * diff_sum, v_sum) if v_sum else None
    assert (row.n_users_a, row.n_users_b) == (ua, ub)
    assert (row.deaths_a, row.deaths_b) == (sum(da), sum(db))
    assert row.o_minus_e_micro == diff_sum
    assert row.var_micro == v_sum
    assert row.chi2_micro == chi2
    assert row.different == (chi2 is not None and chi2 > LOGRANK_CRIT_MICRO)


def test_survival_logrank_planted_arm_effect(spark, tmp_path):
    # arm A users error on day 1, arm B users never error (censored at
    # the horizon): maximal separation, chi2 far above the critical
    # value. And a no-difference fixture (both arms identical failure
    # day) pins chi2 ~ 0 / not different.
    import datetime as dt
    import hashlib

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_survival_logrank,
    )
    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        AB_SPLIT_BOUND,
    )

    def arm_a(u):
        return hashlib.md5(str(u).encode()).hexdigest()[:4] < AB_SPLIT_BOUND

    base = dt.datetime(2024, 1, 1)

    def build(effect, d):
        rows, eid = [], 0
        for u in range(1, 61):
            eid += 1
            rows.append((eid, base, u, "signup", 1.0))
            eid += 1
            if effect and arm_a(u):
                rows.append(
                    (eid, base + dt.timedelta(days=1), u, "error", 1.0)
                )
            elif effect:
                rows.append(
                    (eid, base + dt.timedelta(days=9), u, "click", 1.0)
                )
            else:
                rows.append(
                    (eid, base + dt.timedelta(days=1), u, "error", 1.0)
                )
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double",
        ).write.parquet(f"{d}/events.parquet")

    build(True, f"{tmp_path}/eff")
    r, = q_survival_logrank(spark, f"{tmp_path}/eff").collect()
    assert r.deaths_b == 0 and r.deaths_a == r.n_users_a
    assert r.different and r.chi2_micro > 10 * r.crit_micro

    build(False, f"{tmp_path}/null")
    r, = q_survival_logrank(spark, f"{tmp_path}/null").collect()
    assert r.deaths_a == r.n_users_a and r.deaths_b == r.n_users_b
    assert abs(r.o_minus_e_micro) <= 500_000  # quantization only
    assert not r.different
