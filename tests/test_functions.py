"""Unit tests for the functions/ expression library on tiny literal frames."""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_ingestion_s3_to_parquet_spark.functions.hashing import (
    hamming64,
    lsh_bands,
    minhash_signature,
    rolling_fingerprint,
    simhash_signature,
)
from data_ingestion_s3_to_parquet_spark.functions.numeric import davg, dsum
from data_ingestion_s3_to_parquet_spark.functions.text import (
    lang_by_markers,
    with_shingles,
)
from data_ingestion_s3_to_parquet_spark.functions.vectors import cosine, dot, l2_norm
from data_ingestion_s3_to_parquet_spark.session import gateway_commands


def test_dot_and_norm(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<float>, b array<float>"
    )
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        l2_norm(F.col("a")).alias("n"),
        cosine(F.col("a"), F.col("a")).alias("c"),
    ).first()
    assert row.d == pytest.approx(32.0)
    assert row.n == pytest.approx(math.sqrt(14.0))
    assert row.c == pytest.approx(1.0)


def test_dsum_is_order_independent(spark):
    # same multiset, opposite partition layouts → identical bits
    vals = [(float(i) * 0.1 + 1e9,) for i in range(1000)]
    a = spark.createDataFrame(vals, "x double").repartition(7).agg(dsum("x", "s")).first().s
    b = spark.createDataFrame(list(reversed(vals)), "x double").repartition(3).agg(
        dsum("x", "s")
    ).first().s
    assert a == b


def test_davg(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (4.0,)], "x double")
    assert df.agg(davg("x", "m")).first().m == pytest.approx(7.0 / 3.0, abs=1e-6)


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    got = with_shingles(df, "text", "sh", 3).first().sh
    assert got == ["a b c", "b c d"]


def test_word_shingles_short_text_empty(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    assert with_shingles(df, "text", "sh", 3).first().sh == []


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "x y z w v"), (2, "x y z w v"), (3, "completely different words here")],
        "doc_id long, text string",
    ).transform(lambda d: with_shingles(d, "text", "sh", 3).select("doc_id", "sh"))
    sig = {r.doc_id: r.sig for r in minhash_signature(df, "doc_id", "sh").collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]
    assert len(sig[1]) == 16


def test_lsh_bands_bucket_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "x y z w v"), (2, "x y z w v")], "doc_id long, text string"
    ).transform(lambda d: with_shingles(d, "text", "sh", 3).select("doc_id", "sh"))
    sig = minhash_signature(df, "doc_id", "sh")
    bands = lsh_bands(sig, "doc_id")
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.countDistinct("doc_id").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert buckets == 4  # all 4 bands collide for identical docs


def test_simhash_close_for_near_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"),
            (3, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
        ],
        "doc_id long, text string",
    ).transform(lambda d: with_shingles(d, "text", "sh", 3).select("doc_id", "sh"))
    sig = simhash_signature(df, "doc_id", "sh")
    pairs = (
        sig.alias("a")
        .crossJoin(sig.alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            "a.doc_id",
            "b.doc_id",
            hamming64(F.col("a.sim"), F.col("b.sim")).alias("h"),
        )
        .collect()
    )
    dist = {(r[0], r[1]): r.h for r in pairs}
    assert dist[(1, 2)] < dist[(1, 3)]


def test_rolling_fingerprint_deterministic_and_order_sensitive(spark):
    df = spark.createDataFrame([("abc",), ("acb",), ("abc",)], "t string")
    fps = [r.fp for r in df.select(rolling_fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]


def test_lang_markers(spark):
    df = spark.createDataFrame(
        [("the cat sat",), ("el gato",), ("xyz",)], "text string"
    )
    got = [r.p for r in df.select(lang_by_markers(F.col("text")).alias("p")).collect()]
    assert got == ["en", "es", "und"]


def _sorted_rows_sha256(df) -> dict:
    rows = sorted(json.dumps(list(r)) for r in df.collect())
    return {"rows": len(rows), "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def _sketch_digests(spark, sf_dir: str) -> dict:
    """Row count and sha256 of the sorted collected rows of each sketch
    and of the two rows-only sketch dedup lanes at ``sf_dir``."""
    from data_ingestion_s3_to_parquet_spark.operators import dedup

    sh = dedup._shingled(spark, sf_dir)
    sig = minhash_signature(sh, "doc_id", "sh", k=16)
    frames = {
        "minhash_signature": sig,
        "lsh_bands": lsh_bands(sig, "doc_id", bands=4, rows_per_band=4),
        "simhash_signature": simhash_signature(sh, "doc_id", "sh"),
        "q_dedup_minhash_lsh": dedup.q_dedup_minhash_lsh(spark, sf_dir),
        "q_dedup_simhash": dedup.q_dedup_simhash(spark, sf_dir),
    }
    return {name: _sorted_rows_sha256(df) for name, df in frames.items()}


def test_sketches_match_golden(spark, sf_dir):
    # tests/golden/sketches.json pins the exact bits of the sketches and
    # of the two rows-only dedup lanes the oracle cannot check. Any
    # change to a seed, packing constant or expression shows up here.
    golden = json.loads((Path(__file__).parent / "golden" / "sketches.json").read_text())
    for sf in ("sf0.001", "sf0.01"):
        assert _sketch_digests(spark, str(Path(sf_dir).parent / sf)) == golden[sf], sf


@pytest.mark.parametrize(
    "build",
    [
        lambda sh, sig: minhash_signature(sh, "doc_id", "sh", k=16),
        lambda sh, sig: simhash_signature(sh, "doc_id", "sh"),
        lambda sh, sig: lsh_bands(sig, "doc_id", bands=4, rows_per_band=4),
    ],
    ids=["minhash_signature", "simhash_signature", "lsh_bands"],
)
def test_sketch_builders_stay_within_gateway_budget(spark, build):
    # Each PySpark Column call costs ~10 py4j round trips (call-site
    # capture), so a builder that chains hundreds of them spends seconds
    # on the driver before any job runs. Building a sketch must stay a
    # few hundred JVM calls, not ten per operator.
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    sh = with_shingles(docs, "text", "sh", 3).select("doc_id", "sh")
    sig = minhash_signature(sh, "doc_id", "sh", k=16)
    build(sh, sig)  # warm-up: first-use imports and JVM class loading
    with gateway_commands(spark) as sent:
        build(sh, sig)
    assert sent[0] <= 200, sent[0]


def test_functions_layer_imports_no_operators():
    # functions/ is the bottom layer: operators, streaming and plans
    # build on it, never the other way round.
    import ast

    import data_ingestion_s3_to_parquet_spark as pkg

    upper = {"operators", "streaming", "plans"}
    bad = []
    for path in sorted((Path(pkg.__file__).parent / "functions").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                if node.level == 1:  # a sibling in functions/
                    continue
                parts = (node.module or "").split(".")
                if node.level == 0 and parts[0] == pkg.__name__:
                    parts = parts[1:]
                elif node.level == 0:
                    continue
                names = [parts[0]] if parts[0] else [a.name for a in node.names]
            elif isinstance(node, ast.Import):
                names = [
                    a.name.split(".")[1]
                    for a in node.names
                    if a.name.startswith(pkg.__name__ + ".")
                ]
            else:
                continue
            bad += [f"{path.name}:{node.lineno}" for n in names if n in upper]
    assert not bad, bad
