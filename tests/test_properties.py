"""Property-based invariants (hypothesis) on small generated frames.

SURVEY.md §5.5: cheap algebraic wins — set-op partitions, dedup
idempotence, decimal-sum permutation invariance.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_ingestion_s3_to_parquet_spark.functions.numeric import dsum

rows = st.lists(
    st.tuples(st.integers(0, 9), st.sampled_from(["a", "b", "c"])),
    min_size=0,
    max_size=30,
)

slow_ok = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(left=rows, right=rows)
@slow_ok
def test_setop_partition_invariant(spark, left, right):
    """|A∩B| + |A−B| == |distinct A| (SQL set semantics)."""
    ldf = spark.createDataFrame(left or [(0, "a")], "k int, v string")
    rdf = spark.createDataFrame(right or [(1, "b")], "k int, v string")
    inter = ldf.intersect(rdf).count()
    exc = ldf.subtract(rdf).count()
    assert inter + exc == ldf.distinct().count()


@given(data=rows)
@slow_ok
def test_dedup_idempotent(spark, data):
    df = spark.createDataFrame(data or [(0, "a")], "k int, v string")
    once = df.dropDuplicates(["k", "v"])
    assert once.count() == once.dropDuplicates(["k", "v"]).count()


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=25,
    ),
    seed=st.integers(0, 1000),
)
@slow_ok
def test_dsum_permutation_invariant(spark, vals, seed):
    """The decimal-sum is identical for any permutation/partitioning."""
    import random

    shuffled = vals[:]
    random.Random(seed).shuffle(shuffled)
    a = spark.createDataFrame([(v,) for v in vals], "x double").agg(
        dsum("x", "s")
    ).first().s
    b = (
        spark.createDataFrame([(v,) for v in shuffled], "x double")
        .repartition(3)
        .agg(dsum("x", "s"))
        .first()
        .s
    )
    assert a == b


event_logs = st.lists(
    st.tuples(
        st.integers(0, 5),                      # user_id
        st.integers(0, 20),                     # ts offset (hours)
        st.sampled_from(["view", "purchase", "signup", "error"]),
        st.floats(min_value=0, max_value=100, allow_nan=False),
    ),
    min_size=1,
    max_size=30,
)


@given(log=event_logs)
@slow_ok
def test_cdc_apply_matches_sequential_replay(spark, log, tmp_path_factory):
    """cdc_apply (window latest-wins + tombstones) must equal replaying
    the changelog sequentially in python: for each user, state = the
    last event by (ts, event_id); tombstone at the end => absent."""
    import datetime as dt

    from data_ingestion_s3_to_parquet_spark.operators.relational6 import (
        CDC_TOMBSTONE,
        q_cdc_apply,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(hours=h), u, t, v)
        for i, (u, h, t, v) in enumerate(log)
    ]
    path = tmp_path_factory.mktemp("cdc")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).write.mode("overwrite").parquet(str(path / "events.parquet"))

    # sequential replay: apply events in (ts, event_id) order per user
    state: dict = {}
    for eid, ts, u, t, v in sorted(rows, key=lambda r: (r[1], r[0])):
        if t == CDC_TOMBSTONE:
            state.pop(u, None)
            state[u] = None          # tombstone holds until a later upsert
        else:
            state[u] = (eid, t, v, ts)
    want = {u: s for u, s in state.items() if s is not None}

    got = {
        r.user_id: (r.last_event_id, r.last_type, r.last_value, r.valid_from)
        for r in q_cdc_apply(spark, str(path)).collect()
    }
    assert got == want


# words without spaces (the span-mask tokenizer splits on single space)
_words = st.lists(
    st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=40,
)
_docs = st.lists(_words, min_size=1, max_size=8)


@given(docs=_docs)
@slow_ok
def test_span_mask_round_trips_any_corpus(spark, docs, tmp_path_factory):
    """Splicing the target spans back into the input at their numbered
    sentinels reconstructs the original text, for ARBITRARY corpora —
    the algebraic inverse property behind the fixture test."""
    import re

    from data_ingestion_s3_to_parquet_spark.operators.relational8 import (
        q_sample_span_mask,
    )

    tmp = tmp_path_factory.mktemp("spanmask")
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp / "documents.parquet"))

    out = {r.doc_id: r for r in q_sample_span_mask(spark, str(tmp)).collect()}
    sent = re.compile(r"^<extra_id_(\d+)>$")
    for doc_id, text in rows:
        r = out[doc_id]
        spans: dict[int, list[str]] = {}
        cur = None
        for tok in r.target_text.split(" ") if r.target_text else []:
            m = sent.match(tok)
            if m:
                cur = int(m.group(1))
                spans[cur] = []
            else:
                spans[cur].append(tok)
        rebuilt = []
        for tok in r.input_text.split(" ") if r.input_text else []:
            m = sent.match(tok)
            if m:
                rebuilt.extend(spans[int(m.group(1))])
            else:
                rebuilt.append(tok)
        assert " ".join(rebuilt) == text, doc_id


_edges = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)),
    min_size=0,
    max_size=40,
)


@given(edges=_edges)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_match_union_find(spark, edges):
    """The auto-dispatched CC loop (hash-min probe → star fallback)
    must agree with a plain union-find on ARBITRARY small graphs —
    self-loops, duplicates, isolated vertices, and chain shapes
    included (the fixtures only exercise shallow near-dup clusters)."""
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        connected_components_auto,
    )

    vertices = spark.range(25).selectExpr("id AS vec_id")
    pairs = spark.createDataFrame(
        [(u, v) for u, v in edges] or [(0, 0)], "u long, v long"
    )
    got = {
        r.vec_id: r.component
        for r in connected_components_auto(pairs, vertices).collect()
    }

    parent = list(range(25))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    want = {}
    roots: dict[int, int] = {}
    for x in range(25):
        r = find(x)
        roots.setdefault(r, x)  # min member = first seen ascending
        want[x] = roots[r]
    assert got == want


@given(
    vals=st.lists(
        st.decimals(
            min_value="-99999.99", max_value="99999.99", places=2
        ).map(float),
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_davg_matches_exact_rational_half_up(spark, vals):
    """The fixed-point mean must equal round-half-away-from-zero of
    the EXACT rational mean at 6 dp, for arbitrary signed inputs —
    pinning the integer-division construction (and its pmod trick)
    against Fraction arithmetic."""
    from fractions import Fraction

    from data_ingestion_s3_to_parquet_spark.functions.numeric import davg

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(davg("v", "m")).first().m

    # exact: quantize each value at 1e-8 (the decimal(18,8) cast),
    # mean as a Fraction, half-away-from-zero at 1e-6
    q = [Fraction(round(Fraction(v).limit_denominator(10**12) * 10**8), 10**8) for v in vals]
    mean = sum(q, Fraction(0)) / len(q)
    units = mean * 10**6
    n, d = units.numerator, units.denominator
    sign = -1 if n < 0 else 1
    n = abs(n)
    want = sign * ((2 * n + d) // (2 * d)) / 1e6
    assert got == want, (vals, got, want)


# small-vocabulary corpora so cross-document 3-gram repeats actually
# occur (hypothesis then also shrinks to short docs < n, exercising
# the no-gram guard)
_scrub_words = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e"]),
    min_size=0,
    max_size=12,
)
_scrub_docs = st.lists(_scrub_words, min_size=1, max_size=6)


@given(docs=_scrub_docs)
@slow_ok
def test_dedup_passages_matches_python_on_any_corpus(
    spark, docs, tmp_path_factory
):
    """The repeated-passage scrub equals a direct Python recompute for
    ARBITRARY corpora — including docs shorter than the n-gram, empty
    token lists, and corpora where every gram is hot."""
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        SCRUB_MIN_DOCS,
        SCRUB_NGRAM_N,
        q_dedup_passages,
    )

    tmp = tmp_path_factory.mktemp("scrub")
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp / "documents.parquet"))

    toks = {i: t.split(" ") for i, t in rows}  # split(" ") matches Spark
    gram_docs = defaultdict(set)
    for did, tk in toks.items():
        for i in range(len(tk) - SCRUB_NGRAM_N + 1):
            gram_docs[" ".join(tk[i : i + SCRUB_NGRAM_N])].add(did)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= SCRUB_MIN_DOCS}
    expected = {}
    for did, tk in toks.items():
        covered = set()
        for i in range(len(tk) - SCRUB_NGRAM_N + 1):
            if " ".join(tk[i : i + SCRUB_NGRAM_N]) in hot:
                covered.update(range(i, i + SCRUB_NGRAM_N))
        kept = [w for p, w in enumerate(tk) if p not in covered]
        expected[did] = (len(tk), len(tk) - len(kept), " ".join(kept))

    got = {
        r.doc_id: (r.n_tokens, r.n_scrubbed, r.scrubbed_text)
        for r in q_dedup_passages(spark, str(tmp)).collect()
    }
    assert got == expected


_vecs = st.lists(
    st.lists(
        st.floats(
            min_value=-1.0, max_value=1.0, width=32, allow_nan=False
        ),
        min_size=4,
        max_size=4,
    ),
    min_size=1,
    max_size=8,
)


@given(vecs=_vecs)
@slow_ok
def test_emb_gram_matches_decimal_recompute_on_any_table(
    spark, vecs, tmp_path_factory
):
    """The exact Gram lane equals a direct Python HALF_UP-decimal
    recompute for ARBITRARY embedding tables — fuzzes the two-explode
    position arithmetic (1-based i ≤ j), the float32→double widening,
    and the decimal-sum rounding contract end-to-end."""
    from decimal import ROUND_HALF_UP, Decimal

    from data_ingestion_s3_to_parquet_spark.operators.similarity import (
        q_emb_gram,
    )

    tmp = tmp_path_factory.mktemp("gram")
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp / "embeddings.parquet"))

    import numpy as np

    x = np.array([v for _, v, _ in rows], dtype=np.float32).astype(np.float64)
    d = x.shape[1]
    q8, q6 = Decimal("1e-8"), Decimal("1e-6")
    expected = {}
    for i in range(d):
        for j in range(i, d):
            s = sum(
                (
                    Decimal(float(x[r, i] * x[r, j])).quantize(
                        q8, ROUND_HALF_UP
                    )
                    for r in range(x.shape[0])
                ),
                Decimal(0),
            )
            expected[(i + 1, j + 1)] = float(s.quantize(q6, ROUND_HALF_UP))

    got = {(r.i, r.j): r.gram for r in q_emb_gram(spark, str(tmp)).collect()}
    assert got == expected


@given(
    n_ch=st.integers(1, 2),
    width=st.sampled_from([1, 2]),
    rate=st.sampled_from([8000, 16000, 44100]),
    frames=st.lists(st.integers(-120, 120), min_size=1, max_size=64),
)
@slow_ok
def test_decode_wav_any_pcm_layout(n_ch, width, rate, frames):
    """decode_media parses ANY stdlib-writable PCM WAV layout
    (mono/stereo, 8/16-bit, any rate) with exact integer features."""
    import io
    import wave

    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    samples = frames * n_ch  # interleave: n_ch samples per frame
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_ch)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 2:
            import struct

            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        else:  # 8-bit PCM is unsigned, centered at 128
            w.writeframes(bytes((s + 128) & 0xFF for s in samples))

    got = decode_media("audio", buf.getvalue())
    assert got["sample_rate"] == rate
    assert got["n_channels"] == n_ch
    assert got["n_samples"] == len(samples)
    assert got["energy"] == sum(s * s for s in samples)


@given(
    w=st.integers(1, 6),
    h=st.integers(1, 5),
    seed=st.integers(0, 1000),
)
@slow_ok
def test_decode_bmp_any_dimensions(w, h, seed):
    """decode_media inverts a hand-built 24-bit BMP for ANY dimensions —
    fuzzes the 4-byte row-padding arithmetic (pad = 0..3 depending on
    width) and bottom-up row order, neither of which affects sums but
    both of which affect buffer offsets."""
    import struct

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)  # BGR rows
    row_size = (w * 3 + 3) // 4 * 4
    body = b"".join(
        px[r].tobytes() + b"\x00" * (row_size - w * 3) for r in range(h)
    )
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
        )
    )
    got = decode_media("image", header + body)
    flat = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
    assert (got["width"], got["height"]) == (w, h)
    assert (got["sum_b"], got["sum_g"], got["sum_r"]) == tuple(flat)


@given(
    w=st.integers(1, 5),
    h=st.integers(1, 5),
    color=st.sampled_from([0, 2, 4, 6]),
    filters=st.lists(st.integers(0, 4), min_size=1, max_size=5),
    seed=st.integers(0, 1000),
)
@slow_ok
def test_decode_png_inverts_any_filter_sequence(w, h, color, filters, seed):
    """decode_media inverts hand-filtered PNG scanlines for ANY dimension,
    color type, and per-row filter sequence — the per-pixel
    Sub/Average/Paeth arithmetic is exactly the code a fixed test
    undersamples."""
    import struct
    import zlib

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

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
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = cur[x] - pred
            raw.append(v & 0xFF)
        prev = cur
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = decode_media("image", png)
    if ch >= 3:
        s = px[:, :, :3].reshape(-1, 3).astype(np.int64).sum(axis=0)
        assert (got["sum_r"], got["sum_g"], got["sum_b"]) == tuple(s)
    else:
        g = int(px[:, :, 0].astype(np.int64).sum())
        assert (got["sum_r"], got["sum_g"], got["sum_b"]) == (g, g, g)
    assert (got["width"], got["height"]) == (w, h)


@given(payload=st.binary(min_size=0, max_size=200))
@slow_ok
def test_decode_media_never_returns_garbage_on_arbitrary_bytes(payload):
    """Arbitrary bytes either decode to a well-formed feature dict (if
    they happen to form a valid container) or raise a normal exception
    the per-row capture turns into ok=false — never a hang, never a
    half-populated dict. This is the poison-payload contract of
    media_decode at the pure-function level."""
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    try:
        out = decode_media("unknown", payload)
    except Exception:
        return  # captured per-row by media_decode: the expected path
    # a successful decode must be a complete feature dict
    assert isinstance(out, dict) and out
    assert all(v is not None for v in out.values())


@given(n_ranges=st.integers(1, 16))
@slow_ok
def test_interleave_mix_distributed_any_partition_count(spark, n_ranges):
    """The distributed interleave materialization equals the graded
    single-partition ranking for ANY range-partition count — including
    1 (degenerate: one range) and counts above the corpus's language
    count."""
    from data_ingestion_s3_to_parquet_spark.operators.relational7 import (
        interleave_mix_distributed,
        q_interleave_mix,
    )
    from tests.conftest import SF_SMOKE

    graded = {tuple(r) for r in q_interleave_mix(spark, SF_SMOKE).collect()}
    got = {
        tuple(r)
        for r in interleave_mix_distributed(spark, SF_SMOKE, n_ranges).collect()
    }
    assert got == graded


_iv_events = st.lists(
    st.tuples(
        st.integers(0, 3),                    # user_id
        st.integers(0, 4000),                 # epoch second
        st.sampled_from(["a", "click", "purchase"]),  # duration driver
    ),
    min_size=1,
    max_size=25,
)


@given(events=_iv_events)
@slow_ok
def test_merge_intervals_matches_python_sweep(spark, events, tmp_path_factory):
    """merge_intervals equals a direct Python sweep-line merge for
    ARBITRARY event sets — including duplicate timestamps, fully
    nested intervals, and chains that merge through transitivity."""
    from collections import defaultdict
    from datetime import datetime, timezone

    from data_ingestion_s3_to_parquet_spark.operators.relational9 import (
        q_merge_intervals,
    )

    tmp = tmp_path_factory.mktemp("iv")
    rows = [
        (i, u, datetime.fromtimestamp(s, tz=timezone.utc), et, 0.0)
        for i, (u, s, et) in enumerate(events)
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    per_user = defaultdict(list)
    for i, (u, s, et) in enumerate(events):
        per_user[u].append((s, s + 600 + 60 * len(et)))
    expected = set()
    for u, ivs in per_user.items():
        ivs.sort()
        merged: list[list] = []  # [start, end, n]
        for s, e in ivs:
            if merged and s <= merged[-1][1]:  # overlap or touch
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += 1
            else:
                merged.append([s, e, 1])
        for k, (s, e, n) in enumerate(merged, start=1):
            expected.add((u, k, s, e, n))

    got = {
        (r.user_id, r.interval_id, r.start_sec, r.end_sec, r.n_events)
        for r in q_merge_intervals(spark, str(tmp)).collect()
    }
    assert got == expected


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "hot", "warm", "x1", "y2"]),
            min_size=0,
            max_size=20,
        ).map(" ".join),
        min_size=1,
        max_size=40,
    ),
    n_batches=st.integers(1, 4),
)
@slow_ok
def test_mg_summary_bound_holds_on_any_stream(docs, n_batches):
    """Misra-Gries invariants on arbitrary streams and batch splits:
    est ≤ true per item, and true − est ≤ N // (capacity + 1) — the
    theorem the freq_items_topk contract boolean rests on, here
    exercised at stream shapes the fixture never produces (empty
    docs, single-token batches, adversarial batch boundaries)."""
    from collections import Counter

    import pandas as pd

    from data_ingestion_s3_to_parquet_spark.operators.textstats import (
        MG_CAPACITY,
        _mg_summaries,
    )

    truth = Counter()
    for d in docs:
        truth.update(d.split(" "))
    n_tok = sum(truth.values())

    size = max(1, len(docs) // n_batches)
    batches = [
        pd.DataFrame({"text": docs[i : i + size]})
        for i in range(0, len(docs), size)
    ]
    out = list(_mg_summaries(iter(batches)))
    est = Counter()
    for pdf in out:
        est.update(dict(zip(pdf["w"], pdf["est"])))

    for w, e in est.items():
        assert 0 < e <= truth[w]
    for w, t in truth.items():
        assert t - est.get(w, 0) <= n_tok // (MG_CAPACITY + 1)


_dsir_docs = st.lists(
    st.tuples(
        st.lists(st.sampled_from(["a", "b", "cc", "dd", "e"]), min_size=0, max_size=8),
        st.sampled_from(["en", "fr"]),
    ),
    min_size=1,
    max_size=8,
)


@given(docs=_dsir_docs)
@slow_ok
def test_dsir_weights_matches_python_on_any_corpus(
    spark, docs, tmp_path_factory
):
    """DSIR weights equal a direct Python recompute for ARBITRARY
    corpora — including all-target, zero-target (the add-one smoothing
    floor), and empty-text docs (split(' ') yields [''])."""
    import hashlib
    import math
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        DSIR_BUCKETS,
        q_dsir_weights,
    )

    tmp = tmp_path_factory.mktemp("dsir")
    rows = [(i, " ".join(w), lang) for i, (w, lang) in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:6], 16) % DSIR_BUCKETS

    raw, tgt, per_doc = Counter(), Counter(), {}
    for i, text, lang in rows:
        bs = [bucket(w) for w in text.split(" ")]
        per_doc[i] = bs
        raw.update(bs)
        if lang == "en":
            tgt.update(bs)
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

    got = {
        r.doc_id: (r.n_tokens, r.micro_logratio, r.keep)
        for r in q_dsir_weights(spark, str(tmp)).collect()
    }
    expected = {
        i: (len(bs), sum(lam[b] for b in bs), sum(lam[b] for b in bs) > 0)
        for i, bs in per_doc.items()
    }
    assert got == expected


@given(docs=st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=8),
    min_size=1,
    max_size=8,
))
@slow_ok
def test_token_budget_select_matches_python_on_any_corpus(
    spark, docs, tmp_path_factory
):
    """The bucket+carry prefix sum equals a single-pass Python cumsum
    over the global order for ARBITRARY corpora — including all-equal
    scores (everything lands in one bucket) and single-token docs."""
    from data_ingestion_s3_to_parquet_spark.operators.trainprep import (
        BUDGET_DENOM,
        q_token_budget_select,
    )

    tmp = tmp_path_factory.mktemp("tbs")
    rows = [(i, " ".join(w)) for i, w in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp / "documents.parquet"))

    scored = []
    for i, text in rows:
        toks = text.split(" ")
        t, dw = len(toks), len(set(toks))
        scored.append((i, t, (2 * dw * 1_000_000 + t) // (2 * t)))
    scored.sort(key=lambda x: (-x[2], x[0]))
    budget = sum(t for _, t, _ in scored) // BUDGET_DENOM
    expected, cum = {}, 0
    for i, t, micro in scored:
        cum += t
        expected[i] = (t, micro, cum, cum <= budget)

    got = {
        r.doc_id: (r.n_tokens, r.micro_score, r.cum_tokens, r.selected)
        for r in q_token_budget_select(spark, str(tmp)).collect()
    }
    assert got == expected


# --- baseline JPEG codec (functions/jpeg.py) ---------------------------------


def test_jpeg_zigzag_and_idct_match_spec():
    # zigzag generated from the anti-diagonal walk must match the
    # spec's known head/tail; the matrix IDCT must match a literal
    # four-loop cosine-sum recompute
    import math

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        dct2,
        idct2,
        zigzag_order,
    )

    zz = zigzag_order()
    assert len(zz) == 64 and len(set(zz)) == 64
    assert zz[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert zz[-2:] == [(7, 6), (7, 7)]

    rng = np.random.default_rng(11)
    F = rng.uniform(-500, 500, (8, 8))

    def a(u):
        return math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8)

    naive = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            naive[x, y] = sum(
                a(u) * a(v) * F[u, v]
                * math.cos((2 * x + 1) * u * math.pi / 16)
                * math.cos((2 * y + 1) * v * math.pi / 16)
                for u in range(8)
                for v in range(8)
            )
    assert np.abs(idct2(F) - naive).max() < 1e-9
    blk = rng.uniform(-128, 127, (4, 8, 8))
    assert np.abs(idct2(dct2(blk)) - blk).max() < 1e-9


@given(
    h=st.integers(1, 21),
    w=st.integers(1, 21),
    quality=st.integers(85, 100),
    seed=st.integers(0, 10**6),
)
@slow_ok
def test_jpeg_roundtrip_any_image(h, w, quality, seed):
    # encode→decode round-trip on arbitrary (noisy, worst-case) images
    # stays within quantization error at high quality, for gray and
    # RGB at both subsamplings, including non-multiple-of-8/16 sizes
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    gray = rng.integers(0, 256, (h, w)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(gray, quality=quality))
    assert out.shape == (h, w, 3)
    assert np.abs(out[:, :, 0].astype(int) - gray.astype(int)).mean() < 8

    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    for sub in ("444", "420"):
        out = decode_jpeg(encode_jpeg(rgb, quality=quality, subsampling=sub))
        assert out.shape == (h, w, 3)
        # chroma subsampling loses color detail on noise; luminance is
        # the stable invariant
        y_in = rgb.astype(float) @ [0.299, 0.587, 0.114]
        y_out = out.astype(float) @ [0.299, 0.587, 0.114]
        assert np.abs(y_in - y_out).mean() < 10


@given(seed=st.integers(0, 10**6), every=st.integers(1, 4))
@slow_ok
def test_jpeg_restart_markers_change_nothing(seed, every):
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (19, 26, 3)).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(img, quality=93, subsampling="420"))
    rst = decode_jpeg(
        encode_jpeg(img, quality=93, subsampling="420", restart_every=every)
    )
    assert np.array_equal(plain, rst)


def test_jpeg_flat_image_decodes_near_exact():
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    for v in (0, 63, 128, 130, 255):
        img = np.full((16, 24), v, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=90))
        assert np.abs(out.astype(int) - v).max() <= 2, (v, np.unique(out))


def test_jpeg_progressive_and_12bit_rejected():
    import numpy as np
    import pytest as _pytest

    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    img = np.full((8, 8), 100, dtype=np.uint8)
    data = bytearray(encode_jpeg(img))
    i = bytes(data).find(b"\xff\xc0")
    assert i > 0
    data[i + 1] = 0xC2  # SOF0 → SOF2 (progressive)
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(data))


@given(tail=st.binary(min_size=0, max_size=300))
@slow_ok
def test_jpeg_poison_payloads_fail_cleanly(tail):
    # arbitrary bytes behind a JPEG magic must raise (any exception —
    # media_decode turns it into an ok=false row), never hang; valid
    # prefixes spliced with garbage are the realistic corruption case
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    payload = b"\xff\xd8\xff" + tail
    try:
        out = decode_media("image", payload)
        assert isinstance(out, dict)  # a parseable accident is fine
    except Exception:
        pass


def test_jpeg_dispatch_and_sums_agree_with_array():
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.jpeg import (
        decode_jpeg as jpeg_to_array,
        encode_jpeg,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (12, 17, 3)).astype(np.uint8)
    payload = encode_jpeg(img, quality=95)
    feat = decode_media("whatever", payload)
    arr = jpeg_to_array(payload).reshape(-1, 3).astype(np.int64)
    assert feat["width"] == 17 and feat["height"] == 12
    assert (feat["sum_r"], feat["sum_g"], feat["sum_b"]) == tuple(
        arr.sum(axis=0)
    )


# --- GIF codec (functions/gif.py) --------------------------------------------


@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    n_colors=st.integers(2, 12),
    n_frames=st.integers(1, 4),
    seed=st.integers(0, 10**6),
    mode=st.sampled_from(["real", "literal"]),
)
@slow_ok
def test_gif_roundtrip_is_lossless_on_any_animation(
    h, w, n_colors, n_frames, seed, mode
):
    # GIF is lossless: encode→decode must reproduce every frame
    # EXACTLY, for both the compressing LZW (dictionary growth, width
    # changes, KwKwK) and the literal/clear stream (repeated resets)
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3)).astype(np.uint8)
    frames = [pal[rng.integers(0, n_colors, (h, w))] for _ in range(n_frames)]
    delays = list(rng.integers(0, 500, n_frames))
    out = decode_gif(encode_gif(frames, delays_cs=delays, lzw=mode))
    assert (out["width"], out["height"]) == (w, h)
    assert out["delays_cs"] == delays
    assert len(out["frames"]) == n_frames
    for a, b in zip(frames, out["frames"]):
        assert np.array_equal(a, b)


def test_gif_lzw_dictionary_full_path_roundtrips():
    # > 4096 distinct phrases forces the clear-and-reset lane
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )

    pal = np.arange(256 * 3, dtype=np.uint8).reshape(256, 3)
    img = pal[(np.add.outer(np.arange(150), np.arange(160)) * 7) % 256]
    out = decode_gif(encode_gif([img]))
    assert np.array_equal(out["frames"][0], img)


def test_gif_deinterlace_is_the_four_pass_order():
    # the spec's pass structure: rows 0,8,16.. then 4,12.. then 2,6..
    # then 1,3,5.. — _deinterlace must invert a stream stored in that
    # order back to natural order
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.gif import _deinterlace

    h, w = 11, 3
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    assert sorted(order) == list(range(h))
    natural = np.arange(h * w, dtype=np.uint8).reshape(h, w)
    stored = natural[order].reshape(-1)  # what an interlaced GIF stores
    assert np.array_equal(_deinterlace(stored, h, w), natural)


def test_gif_transparency_composites_over_previous_frame():
    # patch frame 2's graphic-control extension to mark one palette
    # index transparent: the decoder must keep frame 1's pixels there
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    f1 = pal[np.zeros((4, 5), dtype=int)]            # all red
    f2 = pal[np.tile([1, 2, 1, 2, 1], (4, 1))]       # green/blue stripes
    data = bytearray(encode_gif([f1, f2]))

    # palette is sorted by np.unique: [0,0,255]=0, [0,255,0]=1, [255,0,0]=2
    # mark index 1 ([0,255,0], green) transparent on the SECOND frame
    gce = b"\x21\xf9\x04\x04"
    first = bytes(data).find(gce)
    second = bytes(data).find(gce, first + 1)
    assert second > 0
    data[second + 3] = 0x05          # transparent flag on, disposal 1
    data[second + 6] = 1             # transparent index: green

    out = decode_gif(bytes(data))
    composite = out["frames"][1]
    green = (f2 == [0, 255, 0]).all(axis=-1)
    assert np.array_equal(composite[green], f1[green])      # shows through
    assert np.array_equal(composite[~green], f2[~green])    # drawn normally


@given(
    n_frames=st.integers(1, 60),
    kbps_pattern=st.lists(
        st.sampled_from([32, 64, 96, 128, 192, 320]), min_size=1, max_size=4
    ).map(tuple),
    sr=st.sampled_from([44100, 48000, 32000]),
    id3_len=st.integers(0, 300),
)
@settings(max_examples=40, deadline=None)
def test_mp3_probe_matches_built_stream(n_frames, kbps_pattern, sr, id3_len):
    """probe_mp3 on any build_mp3_frames stream (optionally behind an
    ID3v2 tag) recovers the exact frame count, VBR-correct duration,
    and mean bitrate — per-frame length math, not first-frame guess."""
    from data_ingestion_s3_to_parquet_spark.functions.mp3 import (
        build_mp3_frames,
        probe_mp3,
    )

    body = build_mp3_frames(
        n_frames=n_frames, kbps_pattern=kbps_pattern, sr=sr
    )
    tag = b""
    if id3_len:
        sz = bytes(
            [(id3_len >> 21) & 0x7F, (id3_len >> 14) & 0x7F,
             (id3_len >> 7) & 0x7F, id3_len & 0x7F]
        )
        tag = b"ID3\x04\x00\x00" + sz + b"\x00" * id3_len
    meta = probe_mp3(tag + body)
    assert meta["n_frames"] == n_frames
    assert meta["sample_rate"] == sr
    assert meta["duration_sec"] == round(n_frames * 1152 / sr, 3)
    kbps = [kbps_pattern[i % len(kbps_pattern)] for i in range(n_frames)]
    assert meta["mean_kbps"] == round(sum(kbps) / n_frames, 1)


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=60, deadline=None)
def test_mp3_probe_rejects_arbitrary_bytes_cleanly(payload):
    """Fuzz: arbitrary bytes either parse (rare, with sane fields) or
    raise a typed error — never an IndexError/garbage dict."""
    from data_ingestion_s3_to_parquet_spark.functions.mp3 import probe_mp3

    try:
        meta = probe_mp3(payload)
    except (ValueError, NotImplementedError):
        return
    assert meta["n_frames"] >= 1 and meta["sample_rate"] in (
        44100, 48000, 32000,
    )


@given(seed=st.integers(0, 200), h=st.integers(8, 16), w=st.integers(9, 16))
@settings(max_examples=25, deadline=None)
def test_phash_is_encoding_invariant_and_locality_sensitive(seed, h, w):
    # h*w ≤ 256 keeps the random image inside the GIF encoder's
    # 256-distinct-color palette bound
    """dHash over the SAME pixels through different lossless containers
    (BMP, GIF) is bitwise identical; a JPEG re-encode lands within a
    few bits; a different seeded image lands far away."""
    from data_ingestion_s3_to_parquet_spark.functions.gif import encode_gif
    from data_ingestion_s3_to_parquet_spark.functions.jpeg import encode_jpeg
    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        build_test_bmp,
        dhash64,
        hamming_int,
        pixels_of,
        seeded_test_image,
    )

    from data_ingestion_s3_to_parquet_spark.functions.tiff import (
        COMPRESSION_PACKBITS,
        encode_tiff,
    )

    img = seeded_test_image(seed, 0, h, w)
    h_bmp = dhash64(pixels_of(build_test_bmp(img)))
    h_gif = dhash64(pixels_of(encode_gif([img])))
    assert h_bmp == h_gif
    # r8: TIFF is lossless too — both byte orders and both codecs
    # must land on the identical hash
    assert h_bmp == dhash64(pixels_of(encode_tiff(img)))
    assert h_bmp == dhash64(
        pixels_of(
            encode_tiff(img, compression=COMPRESSION_PACKBITS, byte_order=">")
        )
    )
    # r8 wave 2: QOI is lossless — identical hash through its
    # run/index/diff/luma coding too
    from data_ingestion_s3_to_parquet_spark.functions.qoi import build_qoi

    assert h_bmp == dhash64(pixels_of(build_qoi(img)))
    h_jpg = dhash64(pixels_of(encode_jpeg(img, quality=90)))
    assert hamming_int(h_bmp, h_jpg) <= 10
    other = dhash64(seeded_test_image(seed + 1000, 0, h, w))
    assert hamming_int(h_bmp, other) > 10


@given(payload=st.binary(min_size=0, max_size=48))
@settings(max_examples=40, deadline=None)
def test_phash_pixels_of_rejects_arbitrary_bytes_cleanly(payload):
    from data_ingestion_s3_to_parquet_spark.functions.phash import pixels_of

    import struct as _s

    try:
        px = pixels_of(payload)
    except (ValueError, NotImplementedError, _s.error, IndexError):
        # typed decode errors only — anything else (TypeError,
        # KeyError, a hang, a garbage array) fails the test. (ADVICE
        # r7: the old `or isinstance(e, Exception)` form was vacuous.)
        return
    assert px.ndim == 3 and px.shape[2] == 3


@given(h=st.integers(1, 7), w=st.integers(1, 8), seed=st.integers(0, 50))
@settings(max_examples=20, deadline=None)
def test_phash_degenerate_dimensions_never_crash(h, w, seed):
    """Images smaller than the 9x8 grid exercise the cell-widening
    clamp — the hash must still be a valid signed int64 and equal for
    equal pixels."""
    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        dhash64,
        seeded_test_image,
    )

    px = seeded_test_image(seed, 0, h, w)
    a, b = dhash64(px), dhash64(px.copy())
    assert a == b
    assert -(1 << 63) <= a < (1 << 63)


@given(
    lat=st.floats(-89.9, 89.9), lon=st.floats(-179.9, 179.9),
    orientation=st.integers(1, 8),
    order=st.sampled_from(["<", ">"]),
)
@settings(max_examples=40, deadline=None)
def test_exif_probe_and_scrub_roundtrip_any_coordinates(
    lat, lon, orientation, order
):
    """probe_exif recovers the planted coordinates within 1 micro-
    degree-second of builder quantization in either byte order;
    scrub_gps removes GPS (and its raw rational bytes) while keeping
    the whitelist and the exact compressed stream."""
    import struct as _s

    from data_ingestion_s3_to_parquet_spark.functions.exif import (
        attach_app1,
        build_exif_app1,
        probe_exif,
        scrub_gps,
    )

    jpeg = b"\xff\xd8" + b"\xff\xdb\x00\x04\x00\x00" + b"\xff\xd9"
    tagged = attach_app1(
        jpeg,
        build_exif_app1(
            orientation=orientation, gps=(lat, lon), byte_order=order
        ),
    )
    m = probe_exif(tagged)
    assert m["has_exif"] and m["has_gps"]
    assert abs(m["gps_lat_udeg"] - int(lat * 1e6)) <= 60
    assert abs(m["gps_lon_udeg"] - int(lon * 1e6)) <= 60
    assert m["orientation"] == orientation
    clean = scrub_gps(tagged)
    mc = probe_exif(clean)
    assert not mc["has_gps"] and mc["gps_lat_udeg"] is None
    assert mc["orientation"] == orientation
    assert mc["make"] == "CamCo" and mc["datetime"] == "2024:05:01 12:00:00"
    # the coordinate rationals are REMOVED from the bytes, not unlinked
    x = abs(lat)
    d = int(x); mnt = int((x - d) * 60)
    s_num = int(round(((x - d) * 60 - mnt) * 60 * 10000))
    rational = _s.pack(("<" if order == "<" else ">") + "II", s_num, 10000)
    if s_num > 256:  # tiny numerators collide with header bytes
        assert rational in tagged and rational not in clean
    # entropy-coded stream intact
    assert clean.endswith(b"\xff\xd9")


def test_exif_gps_in_second_app1_is_probed_and_scrubbed():
    """ADVICE r7 (medium): GPS sitting in a SECOND APP1 Exif segment
    must be visible to probe_exif and must not survive scrub_gps; XMP
    APP1 and APP13 IPTC segments are dropped outright."""
    import struct as _s

    from data_ingestion_s3_to_parquet_spark.functions.exif import (
        attach_app1,
        build_exif_app1,
        probe_exif,
        scrub_gps,
    )

    jpeg = b"\xff\xd8" + b"\xff\xdb\x00\x04\x00\x00" + b"\xff\xd9"
    # first APP1: benign Exif (no GPS); second APP1: Exif WITH GPS
    tagged = attach_app1(jpeg, build_exif_app1(gps=None))
    gps_app1 = build_exif_app1(
        orientation=None, datetime=None, make=None, model=None,
        gps=(51.5074, -0.1278),
    )
    # append the GPS segment AFTER the first one (cameras prepend, so
    # splice by hand right before the DQT)
    seg2 = b"\xff\xe1" + _s.pack(">H", len(gps_app1) + 2) + gps_app1
    dqt_at = tagged.index(b"\xff\xdb")
    tagged = tagged[:dqt_at] + seg2 + tagged[dqt_at:]
    # an XMP APP1 and an APP13 IPTC, both carrying "coordinates"
    xmp = b"http://ns.adobe.com/xap/1.0/\x00<exif:GPSLatitude>51</exif:GPSLatitude>"
    seg_xmp = b"\xff\xe1" + _s.pack(">H", len(xmp) + 2) + xmp
    iptc = b"Photoshop 3.0\x00loc=51.5074,-0.1278"
    seg13 = b"\xff\xed" + _s.pack(">H", len(iptc) + 2) + iptc
    dqt_at = tagged.index(b"\xff\xdb")
    tagged = tagged[:dqt_at] + seg_xmp + seg13 + tagged[dqt_at:]

    m = probe_exif(tagged)
    assert m["has_gps"], "GPS in a second APP1 must be reported"
    assert abs(m["gps_lat_udeg"] - 51_507_400) <= 60
    assert m["make"] == "CamCo"  # merged from the first segment

    clean = scrub_gps(tagged)
    mc = probe_exif(clean)
    assert not mc["has_gps"] and mc["gps_lat_udeg"] is None
    assert mc["make"] == "CamCo" and mc["orientation"] == 6
    # the sibling metadata segments are gone wholesale
    assert b"GPSLatitude" not in clean
    assert b"Photoshop 3.0" not in clean
    assert clean.count(b"Exif\x00\x00") == 1
    assert clean.endswith(b"\xff\xd9")
    # idempotent: scrubbing a scrubbed payload is a no-op
    assert scrub_gps(clean) == clean


def test_exif_segment_walker_skips_fill_bytes():
    """ADVICE r7 (low): spec-valid 0xFF fill/padding bytes between
    segments must not raise (decode_jpeg already skips them)."""
    import struct as _s

    from data_ingestion_s3_to_parquet_spark.functions.exif import (
        build_exif_app1,
        probe_exif,
        scrub_gps,
    )

    app1 = build_exif_app1(gps=(10.0, 20.0))
    seg = b"\xff\xe1" + _s.pack(">H", len(app1) + 2) + app1
    # SOI, fill bytes, APP1, more fill, DQT, EOI
    padded = (
        b"\xff\xd8" + b"\xff\xff" + seg + b"\xff\xff\xff"
        + b"\xff\xdb\x00\x04\x00\x00" + b"\xff\xd9"
    )
    m = probe_exif(padded)
    assert m["has_gps"] and m["gps_lat_udeg"] is not None
    clean = scrub_gps(padded)
    assert not probe_exif(clean)["has_gps"]
    assert clean.endswith(b"\xff\xd9")


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=50, deadline=None)
def test_exif_probe_rejects_arbitrary_bytes_cleanly(payload):
    from data_ingestion_s3_to_parquet_spark.functions.exif import probe_exif

    import struct as _s

    try:
        m = probe_exif(payload)
    except (ValueError, NotImplementedError, _s.error, IndexError):
        # typed decode errors only (ADVICE r7: Exception in the tuple
        # made this vacuous) — a TypeError/KeyError now fails
        return
    assert isinstance(m, dict) and "has_gps" in m


@given(
    n_frames=st.integers(1, 4),
    delays=st.lists(st.integers(0, 500), min_size=4, max_size=4),
    h=st.integers(2, 8),
    w=st.integers(2, 8),
    seed=st.integers(0, 100),
)
@settings(max_examples=25, deadline=None)
def test_gif_probe_matches_encode_without_decoding(n_frames, delays, h, w, seed):
    # n_frames·h·w ≤ 256 keeps the random frames inside the GIF
    # encoder's 256-distinct-color palette bound
    """probe_gif recovers dims / frame count / total duration from the
    block structure of any encode_gif output — sub-block skipping must
    stay in lockstep with the encoder for arbitrary frame sizes."""
    from data_ingestion_s3_to_parquet_spark.functions.gif import (
        encode_gif,
        probe_gif,
    )
    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        seeded_test_image,
    )

    frames = [seeded_test_image(seed + i, 0, h, w) for i in range(n_frames)]
    d = delays[:n_frames]
    m = probe_gif(encode_gif(frames, delays_cs=d))
    assert (m["width"], m["height"], m["n_frames"]) == (w, h, n_frames)
    assert m["duration_sec"] == round(sum(d) / 100.0, 3)


@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    seed=st.integers(0, 200),
    comp=st.sampled_from([1, 32773]),
    order=st.sampled_from(["<", ">"]),
    gray=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_tiff_roundtrip_lossless_any_shape(h, w, seed, comp, order, gray):
    """encode_tiff → decode_tiff is bit-lossless for every shape,
    codec, byte order, and channel count in the baseline profile."""
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.tiff import (
        decode_tiff,
        encode_tiff,
        probe_tiff,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w) if gray else (h, w, 3), dtype=np.uint8)
    payload = encode_tiff(img, compression=comp, byte_order=order)
    out = decode_tiff(payload)
    expect = (
        np.repeat(img[:, :, None], 3, axis=2) if gray else img
    )
    assert np.array_equal(out, expect)
    m = probe_tiff(payload)
    assert (m["width"], m["height"]) == (w, h)
    assert m["compression"] == comp
    assert m["samples_per_pixel"] == (1 if gray else 3)
    assert m["byte_order"] == ("little" if order == "<" else "big")


@given(data=st.binary(min_size=0, max_size=400))
@settings(max_examples=60, deadline=None)
def test_tiff_packbits_roundtrip_arbitrary_bytes(data):
    from data_ingestion_s3_to_parquet_spark.functions.tiff import (
        packbits,
        unpackbits,
    )

    assert unpackbits(packbits(data), len(data)) == data


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=50, deadline=None)
def test_tiff_decode_rejects_arbitrary_bytes_cleanly(payload):
    import struct as _s

    from data_ingestion_s3_to_parquet_spark.functions.tiff import decode_tiff

    try:
        px = decode_tiff(payload)
    except (ValueError, NotImplementedError, _s.error, IndexError):
        return  # typed decode errors only — anything else fails
    assert px.ndim == 3 and px.shape[2] == 3


def test_tiff_white_is_zero_inverts():
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.tiff import (
        decode_tiff,
        encode_tiff,
    )

    g = np.arange(12, dtype=np.uint8).reshape(3, 4)
    out = decode_tiff(encode_tiff(g, photometric=0))
    assert np.array_equal(out, np.repeat((255 - g)[:, :, None], 3, axis=2))


@given(
    n_frames=st.integers(1, 5),
    h=st.integers(2, 10),
    w=st.integers(2, 10),
    fps=st.integers(1, 60),
    seed=st.integers(0, 100),
)
@settings(max_examples=20, deadline=None)
def test_avi_container_roundtrip_preserves_frames_exactly(
    n_frames, h, w, fps, seed
):
    """build_mjpeg_avi → iter_avi_frames returns the embedded JPEG
    byte streams verbatim (container adds nothing, loses nothing —
    including the odd-length padding rule), and probe_avi reports the
    declared geometry/timing."""
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.avi import (
        build_mjpeg_avi,
        iter_avi_frames,
        probe_avi,
    )
    from data_ingestion_s3_to_parquet_spark.functions.jpeg import encode_jpeg

    rng = np.random.default_rng(seed)
    chunks = [
        encode_jpeg(rng.integers(0, 256, (h, w, 3)).astype(np.uint8))
        for _ in range(n_frames)
    ]
    avi = build_mjpeg_avi(chunks, w, h, fps=fps)
    assert list(iter_avi_frames(avi)) == chunks
    m = probe_avi(avi)
    assert (m["width"], m["height"], m["n_frames"]) == (w, h, n_frames)
    assert m["us_per_frame"] == 1_000_000 // fps
    assert m["video_handler"] == "MJPG"


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=50, deadline=None)
def test_avi_probe_rejects_arbitrary_bytes_cleanly(payload):
    import struct as _s

    from data_ingestion_s3_to_parquet_spark.functions.avi import probe_avi

    try:
        m = probe_avi(payload)
    except (ValueError, NotImplementedError, _s.error, IndexError):
        return  # typed decode errors only
    assert m["width"] is not None


@given(
    seed=st.integers(0, 300),
    n=st.integers(1, 400),
    law=st.sampled_from(["ulaw", "alaw"]),
)
@settings(max_examples=40, deadline=None)
def test_g711_roundtrip_error_within_segment_step(seed, n, law):
    """decode(encode(x)) lands within the companding segment's step
    size for arbitrary int16 samples, and re-encoding a decoded byte
    is the identity on the quantization lattice (except µ-law's two
    codes for zero — an inherent property, not a defect)."""
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.g711 import (
        ALAW_TABLE,
        ULAW_TABLE,
        alaw_decode,
        alaw_encode,
        ulaw_decode,
        ulaw_encode,
    )

    enc, dec, table = (
        (ulaw_encode, ulaw_decode, ULAW_TABLE)
        if law == "ulaw"
        else (alaw_encode, alaw_decode, ALAW_TABLE)
    )
    rng = np.random.default_rng(seed)
    x = rng.integers(-32768, 32768, n).astype(np.int16)
    y = dec(enc(x)).astype(np.int32)
    err = np.abs(y - x.astype(np.int32))
    bound = np.maximum(np.abs(x.astype(np.int32)) // 16, 64)
    assert (err <= bound).all()
    # lattice idempotence
    rt = dec(enc(table.astype(np.int16)))
    assert np.array_equal(rt, table)


@given(
    seed=st.integers(0, 300),
    n_blocks=st.integers(1, 4),
    block_align=st.sampled_from([8, 32, 256, 505]),
)
@settings(max_examples=40, deadline=None)
def test_adpcm_roundtrip_tracks_smooth_signals(seed, n_blocks, block_align):
    """IMA ADPCM on band-limited signals: every block's first sample
    is stored verbatim, a constant signal reconstructs exactly after
    the first expansion steps, and a slow sine tracks within the
    codec's worst transient step. Truncating the data mid-block loses
    tail samples, never raises."""
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.adpcm import (
        adpcm_decode,
        adpcm_encode,
        adpcm_n_samples,
        samples_per_block,
    )

    rng = np.random.default_rng(seed)
    spb = samples_per_block(block_align)
    n = spb * n_blocks
    t = np.arange(n)
    amp = int(rng.integers(500, 12000))
    period = int(rng.integers(150, 600))
    x = (amp * np.sin(2 * np.pi * t / period)).astype(np.int16)
    enc = adpcm_encode(x, block_align)
    dec = adpcm_decode(enc, block_align)
    assert dec.size == n == adpcm_n_samples(len(enc), block_align)
    # block-leading samples verbatim
    assert np.array_equal(dec[::spb], x[::spb])
    err = np.abs(dec.astype(np.int64) - x.astype(np.int64))
    # worst transient: predictor lags by at most a few current steps;
    # for these band-limited amplitudes the empirical max is ~1k
    assert err.max() <= 2048
    # constant signal: exact (the encoder's 0-diff nibble chain)
    c = np.full(spb, int(rng.integers(-30000, 30000)), dtype=np.int16)
    assert np.array_equal(adpcm_decode(adpcm_encode(c, block_align),
                                       block_align), c)
    # truncated tail: decodes the surviving prefix
    cut = len(enc) - int(rng.integers(1, block_align))
    part = adpcm_decode(enc[:cut], block_align)
    assert part.size == adpcm_n_samples(cut, block_align)
    assert np.array_equal(part, dec[: part.size])


def test_adpcm_wav_decodes_distributed_with_exact_energy(spark):
    # an IMA ADPCM WAV (stdlib wave rejects format tag 17) must decode
    # through the mapInPandas lane with exact integer energy equal to
    # the local from-spec expansion; probe reports codec + duration
    # from block geometry without decoding
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.adpcm import (
        adpcm_decode,
        adpcm_encode,
        build_adpcm_wav,
        samples_per_block,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_decode,
        media_probe,
    )

    n = samples_per_block(256) * 4  # 2020 samples
    t = np.arange(n)
    x = (9000 * np.sin(2 * np.pi * t / 180)).astype(np.int16)
    wav = build_adpcm_wav(x, sample_rate=4040, block_align=256)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav), "audio/x-adpcm", None, None, 4040)],
        MEDIA_SCHEMA,
    )
    got = media_decode(media).collect()[0]
    ref = adpcm_decode(adpcm_encode(x, 256), 256).astype(np.int64)
    assert got.ok
    assert (got.sample_rate, got.n_channels, got.n_samples) == (4040, 1, n)
    assert got.energy == int((ref * ref).sum())
    p = media_probe(media).collect()[0]
    assert (p.audio_codec, p.duration_sec) == ("ima_adpcm", 0.5)


def test_g711_wav_decodes_distributed_with_exact_energy(spark):
    # a µ-law and an A-law WAV (stdlib wave rejects both) must decode
    # through the mapInPandas lane with exact integer energy computed
    # from the same tables locally; probe reports the codec name
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.g711 import (
        alaw_decode,
        alaw_encode,
        build_g711_wav,
        ulaw_decode,
        ulaw_encode,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_decode,
        media_probe,
    )

    rng = np.random.default_rng(5)
    x = rng.integers(-30000, 30000, 1600).astype(np.int16)
    wav_u = build_g711_wav(x, law="ulaw", sample_rate=8000)
    wav_a = build_g711_wav(x, law="alaw", sample_rate=16000)
    rows = [
        (1, "audio", bytearray(wav_u), "audio/basic", None, None, 8000),
        (2, "audio", bytearray(wav_a), "audio/alaw", None, None, 16000),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in media_decode(media).collect()}
    eu = ulaw_decode(ulaw_encode(x)).astype(np.int64)
    ea = alaw_decode(alaw_encode(x)).astype(np.int64)
    u, a = got[1], got[2]
    assert u.ok and (u.sample_rate, u.n_channels, u.n_samples) == (8000, 1, 1600)
    assert u.energy == int((eu * eu).sum())
    assert a.ok and (a.sample_rate, a.n_samples) == (16000, 1600)
    assert a.energy == int((ea * ea).sum())
    p = {r.media_id: r for r in media_probe(media).collect()}
    assert (p[1].audio_codec, p[1].duration_sec) == ("ulaw", 0.2)
    assert (p[2].audio_codec, p[2].duration_sec) == ("alaw", 0.1)


_ewma_events = st.lists(
    st.tuples(
        st.integers(0, 3),          # user_id
        st.integers(0, 40),         # ts offset (minutes)
        st.floats(min_value=0, max_value=400, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)


@given(log=_ewma_events)
@slow_ok
def test_ewma_smooth_matches_sequential_replay(spark, log, tmp_path_factory):
    """ewma_smooth on ARBITRARY event streams (duplicate timestamps,
    single-event users, >depth histories) must equal a sequential
    Python replay of the same weights and half-up division."""
    import datetime as dt
    from collections import defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        EWMA_COEFS,
        EWMA_DEPTH,
        q_ewma_smooth,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, "e", v)
        for i, (u, m, v) in enumerate(log)
    ]
    tmp = tmp_path_factory.mktemp("ewma")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    streams = defaultdict(list)
    for eid, ts, u, _t, v in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
        c = v * 100
        cents = int(c + 0.5) if c >= 0 else -int(-c + 0.5)
        streams[u].append((eid, cents))
    expect = {}
    for u, evs in streams.items():
        hist = []
        for eid, cents in evs:
            hist.append(cents)
            window = hist[-EWMA_DEPTH:][::-1]
            s = sum(c * w for c, w in zip(window, EWMA_COEFS))
            wsum = sum(w for _c, w in zip(window, EWMA_COEFS))
            expect[eid] = (
                u, cents, len(window),
                ((2 * s * 1_000_000 + wsum) // (2 * wsum)) / 1e6,
            )

    got = {
        r.event_id: (r.user_id, r.cents, r.n_hist, r.ewma)
        for r in q_ewma_smooth(spark, str(tmp)).collect()
    }
    assert got == expect


_corpus_words = st.lists(
    st.lists(st.sampled_from(["dup", "vector", "join", "scan", "u", "v", "w"]),
             min_size=1, max_size=12),
    min_size=1,
    max_size=10,
)


@given(docs=_corpus_words)
@slow_ok
def test_rank_bm25_matches_recompute_on_arbitrary_corpora(
    spark, docs, tmp_path_factory
):
    """BM25 on ARBITRARY tiny corpora — every doc hitting every term,
    no doc hitting any term, ties everywhere — must equal the pure
    recompute with the same pinned formula and tie-breaks."""
    import math
    from collections import Counter, defaultdict

    from data_ingestion_s3_to_parquet_spark.operators.relational10 import (
        BM25_TERMS,
        BM25_TOPK,
        q_rank_bm25,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    tmp = tmp_path_factory.mktemp("bm25")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp / "documents.parquet"))

    toks = {d: t.split(" ") for d, t in rows}
    n_docs, total_len = len(toks), sum(len(t) for t in toks.values())
    tf = defaultdict(Counter)
    for d, t in toks.items():
        for w in t:
            if w in BM25_TERMS:
                tf[d][w] += 1
    df = Counter(w for d in tf for w in tf[d])
    scored = {}
    for d, terms in tf.items():
        dl = len(toks[d])
        micro = 0
        for w, f in terms.items():
            idf = math.log(
                1.0 + (float(n_docs - df[w]) + 0.5) / (float(df[w]) + 0.5)
            )
            tfn = (float(f) * 2.2) / (
                float(f)
                + 1.2 * (0.25 + 0.75 * (float(dl) * float(n_docs)
                                        / float(total_len)))
            )
            micro += int(math.floor(idf * tfn * 1_000_000 + 0.5))
        scored[d] = (len(terms), micro)
    expect = sorted(scored.items(), key=lambda kv: (-kv[1][1], kv[0]))[
        :BM25_TOPK
    ]

    got = q_rank_bm25(spark, str(tmp)).collect()
    assert len(got) == len(expect)
    for r, (d, (nh, micro)) in zip(got, expect):
        assert (r.doc_id, r.n_hit_terms, r.score) == (d, nh, micro / 1e6)


@given(
    rate=st.integers(1, (1 << 20) - 1),
    ch=st.integers(1, 8),
    bits=st.integers(4, 32),
    total=st.integers(0, (1 << 36) - 1),
)
@settings(max_examples=50, deadline=None)
def test_flac_probe_roundtrips_streaminfo(rate, ch, bits, total):
    from data_ingestion_s3_to_parquet_spark.functions.flac import (
        build_flac_streaminfo,
        probe_flac,
    )

    m = probe_flac(
        build_flac_streaminfo(
            sample_rate=rate, channels=ch, bits=bits, total_samples=total
        )
    )
    assert (
        m["sample_rate"], m["n_channels"], m["bits_per_sample"],
        m["total_samples"],
    ) == (rate, ch, bits, total)
    assert m["duration_sec"] == round(total / rate, 3)


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=50, deadline=None)
def test_flac_probe_rejects_arbitrary_bytes_cleanly(payload):
    import struct as _s

    from data_ingestion_s3_to_parquet_spark.functions.flac import probe_flac

    try:
        m = probe_flac(payload)
    except (ValueError, NotImplementedError, _s.error, IndexError):
        return
    assert m["sample_rate"] > 0


@given(
    codec=st.sampled_from(["opus", "vorbis"]),
    ch=st.integers(1, 8),
    rate=st.integers(8000, 192000),
    samples=st.integers(0, 1 << 40),
)
@settings(max_examples=40, deadline=None)
def test_ogg_probe_roundtrips_id_header_and_duration(codec, ch, rate, samples):
    from data_ingestion_s3_to_parquet_spark.functions.ogg import (
        build_ogg_opus,
        build_ogg_vorbis,
        probe_ogg,
    )

    if codec == "opus":
        m = probe_ogg(
            build_ogg_opus(channels=ch, input_rate=rate, n_samples_48k=samples)
        )
        # Opus granules are 48 kHz regardless of the input rate
        assert m["duration_sec"] == round(samples / 48000, 3)
    else:
        m = probe_ogg(
            build_ogg_vorbis(channels=ch, rate=rate, n_samples=samples)
        )
        assert m["duration_sec"] == round(samples / rate, 3)
    assert (m["codec"], m["n_channels"], m["sample_rate"]) == (codec, ch, rate)


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=50, deadline=None)
def test_ogg_probe_rejects_arbitrary_bytes_cleanly(payload):
    import struct as _s

    from data_ingestion_s3_to_parquet_spark.functions.ogg import probe_ogg

    try:
        m = probe_ogg(payload)
    except (ValueError, NotImplementedError, _s.error, IndexError):
        return
    assert m["codec"] in ("opus", "vorbis")


_acf_days = st.lists(
    st.tuples(
        st.integers(0, 30),   # epoch-day offset (dense-ish calendar)
        st.integers(1, 5),    # orders on that day
    ),
    min_size=2,
    max_size=25,
)


@given(days=_acf_days)
@slow_ok
def test_acf_lags_matches_sequential_replay(spark, days, tmp_path_factory):
    """acf_lags on ARBITRARY daily calendars (gaps, duplicate days
    folding into one count, constant stretches that zero a variance)
    must equal a pure-Python Pearson over calendar-offset pairs —
    including the NULL guard when a lag's pair set has zero variance."""
    import datetime as dt
    import math
    from collections import Counter

    from data_ingestion_s3_to_parquet_spark.operators.relational11 import (
        ACF_MAX_LAG,
        q_acf_lags,
    )

    daily = Counter()
    for off, n in days:
        daily[off] += n
    rows = []
    oid = 0
    for off, n in daily.items():
        for _ in range(n):
            rows.append(
                (
                    oid,
                    0,
                    "O",
                    100.0,
                    dt.datetime(1970, 1, 1) + dt.timedelta(days=off),
                    "p",
                )
            )
            oid += 1
    tmp = tmp_path_factory.mktemp("acf")
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")

    expect = {}
    for lag in range(1, ACF_MAX_LAG + 1):
        pairs = [
            (daily[d], daily[d + lag]) for d in daily if d + lag in daily
        ]
        if not pairs:
            continue  # Spark emits no row for a lag with no pairs
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        vx = n * sum(x * x for x, _ in pairs) - sx * sx
        vy = n * sum(y * y for _, y in pairs) - sy * sy
        sxy = sum(x * y for x, y in pairs)
        if vx <= 0 or vy <= 0:
            expect[lag] = (n, None)
        else:
            r = 1e6 * (n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))
            micro = (
                int(math.floor(r + 0.5))
                if r >= 0
                else -int(math.floor(-r + 0.5))
            )
            expect[lag] = (n, micro)

    got = {
        r.lag: (r.n_pairs, r.acf_micro)
        for r in q_acf_lags(spark, str(tmp)).collect()
    }
    assert got == expect


def test_box_resize_exact_semantics():
    import numpy as np
    import pytest as _pytest

    from data_ingestion_s3_to_parquet_spark.functions.phash import box_resize

    # constant image -> constant thumbnail, any grid
    const = np.full((10, 14, 3), 77, dtype=np.uint8)
    assert (box_resize(const, 3, 5) == 77).all()
    # integer-factor downscale of a block pattern = exact block means
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:2, :2] = 10
    px[:2, 2:] = 20
    px[2:, :2] = 30
    px[2:, 2:] = (41, 43, 45)  # non-uniform channel means floor exactly
    t = box_resize(px, 2, 2)
    assert t[0, 0].tolist() == [10, 10, 10]
    assert t[0, 1].tolist() == [20, 20, 20]
    assert t[1, 0].tolist() == [30, 30, 30]
    assert t[1, 1].tolist() == [41, 43, 45]
    # same-size resize is the identity
    assert (box_resize(px, 4, 4) == px).all()
    # upscale refuses (downscale-only contract)
    with _pytest.raises(ValueError):
        box_resize(px, 8, 4)


def test_media_resize_is_container_invariant_and_poison_isolated(spark):
    # a BMP and a PNG holding the SAME pixels must produce bitwise
    # identical thumbnails; garbage payloads poison their own row only
    import struct
    import zlib

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        box_resize,
        build_test_bmp,
        pixels_of,
        seeded_test_image,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_resize,
    )

    px = seeded_test_image(3, h=12, w=16)
    bmp = build_test_bmp(px)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    raw = b"".join(b"\x00" + px[r].tobytes() for r in range(12))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 12, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    rows = [
        (1, "image", bytearray(bmp), "image/bmp", 16, 12, None),
        (2, "image", bytearray(png), "image/png", 16, 12, None),
        (3, "image", bytearray(b"not an image"), None, None, None, None),
        (4, "image", bytearray(build_test_bmp(px[:3, :2])), None, 2, 3, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in media_resize(media, 8, 8).collect()}
    assert got[1].ok and got[2].ok and got[4].ok and not got[3].ok
    assert got[3].err and got[3].thumb is None
    assert bytes(got[1].thumb) == bytes(got[2].thumb)  # container-invariant
    assert (got[1].out_h, got[1].out_w, got[1].src_h, got[1].src_w) == (
        8, 8, 12, 16,
    )
    # the emitted BMP decodes back to exactly box_resize's array
    back = pixels_of(bytes(got[1].thumb))
    assert (back == box_resize(px, 8, 8)).all()
    expect = box_resize(px, 8, 8).reshape(-1, 3).astype(np.int64).sum(axis=0)
    assert (got[1].r_sum, got[1].g_sum, got[1].b_sum) == tuple(expect)
    # smaller-than-target image clamps, never upscales
    assert (got[4].out_h, got[4].out_w) == (3, 2)


def test_media_audio_frames_invariants_across_codecs(spark):
    # per-frame energies and zero-crossings must sum exactly to the
    # whole-clip values, across every WAV codec the engine decodes
    # (PCM, G.711 mu-law, IMA ADPCM); bad payloads poison one row
    import io
    import struct
    import wave as wavemod

    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.adpcm import (
        adpcm_decode,
        adpcm_encode,
        build_adpcm_wav,
        samples_per_block,
    )
    from data_ingestion_s3_to_parquet_spark.functions.g711 import (
        build_g711_wav,
        ulaw_decode,
        ulaw_encode,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_audio_frames,
        media_decode,
    )

    n = samples_per_block(256) * 2  # 1010 samples -> 2 frames of 512
    t = np.arange(n)
    x = (11000 * np.sin(2 * np.pi * t / 97)).astype(np.int16)

    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(x.tobytes())
    pcm = buf.getvalue()
    rows = [
        (1, "audio", bytearray(pcm), "audio/wav", None, None, 8000),
        (2, "audio", bytearray(build_g711_wav(x, law="ulaw")), None, None, None, 8000),
        (3, "audio", bytearray(build_adpcm_wav(x, block_align=256)), None, None, None, 8000),
        (4, "audio", bytearray(b"RIFFgarbage"), None, None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = media_audio_frames(media, frame_len=512).collect()
    clip = {r.media_id: r for r in media_decode(media).collect()}

    decoded = {
        1: x.astype(np.int64),
        2: ulaw_decode(ulaw_encode(x)).astype(np.int64),
        3: adpcm_decode(adpcm_encode(x, 256), 256).astype(np.int64),
    }
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    for mid, arr in decoded.items():
        fs = sorted(by_id[mid], key=lambda r: r.frame_idx)
        assert [f.frame_idx for f in fs] == [0, 1]
        assert [f.n_samples for f in fs] == [512, n - 512]
        assert sum(f.energy for f in fs) == clip[mid].energy
        flips = int(((arr[:-1] * arr[1:]) < 0).sum())
        assert sum(f.zero_crossings for f in fs) == flips
        # independent per-frame recompute
        for f in fs:
            lo = f.frame_idx * 512
            seg = arr[lo : lo + 512]
            assert f.energy == int((seg * seg).sum())
    bad = by_id[4]
    assert len(bad) == 1 and not bad[0].ok and bad[0].err
    assert bad[0].frame_idx is None

    # stereo PCM: interleaved L/R would corrupt the flat zero-crossing
    # scan, so the lane must refuse (one typed poison row), not emit
    # ok=true garbage
    sbuf = io.BytesIO()
    with wavemod.open(sbuf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        stereo = np.empty(2 * n, dtype=np.int16)
        stereo[0::2], stereo[1::2] = 1000, -1000  # no real crossings
        w.writeframes(stereo.tobytes())
    srows = media_audio_frames(
        spark.createDataFrame(
            [(9, "audio", bytearray(sbuf.getvalue()), None, None, None, 8000)],
            MEDIA_SCHEMA,
        ),
        frame_len=512,
    ).collect()
    assert len(srows) == 1 and not srows[0].ok
    assert "channel" in srows[0].err


@given(seed=st.integers(0, 500), h=st.integers(1, 24), w=st.integers(1, 24))
@settings(max_examples=40, deadline=None)
def test_png_encode_roundtrip_is_lossless(seed, h, w):
    # build_png -> from-spec png_pixels must be the identity, on noise
    # (filter 0 territory), gradients (sub/up/paeth territory), and
    # degenerate 1-pixel strips
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        build_png,
        pixels_of,
        seeded_test_image,
    )

    rng = np.random.default_rng(seed)
    kind = seed % 3
    if kind == 0:
        px = seeded_test_image(seed, h=h, w=w)
    elif kind == 1:  # smooth gradient: exercises the adaptive filters
        px = (
            (np.arange(h)[:, None, None] * 5 + np.arange(w)[None, :, None] * 3
             + np.arange(3)[None, None, :] * 40) % 256
        ).astype(np.uint8)
    else:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    back = pixels_of(build_png(px))
    assert back.shape == px.shape
    assert (back == px).all()


def test_png_encoder_compresses_smooth_images_and_dedups_exactly():
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.phash import (
        build_png,
        build_test_bmp,
        dhash64,
        pixels_of,
    )

    h, w = 64, 64
    grad = (
        (np.arange(h)[:, None, None] + np.arange(w)[None, :, None]) % 256
    ).astype(np.uint8).repeat(3, axis=2)
    png = build_png(grad)
    # the adaptive filters must make deflate bite on smooth content
    assert len(png) < h * w * 3 // 4
    # deterministic bytes: the exact-dedup property for re-encodes
    assert png == build_png(grad.copy())
    # dHash container invariance extends to the encoder's output
    assert dhash64(pixels_of(png)) == dhash64(pixels_of(build_test_bmp(grad)))


@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    seed=st.integers(0, 10_000),
    alpha=st.booleans(),
    mode=st.sampled_from(["noise", "flat", "rows", "ramp"]),
    colorspace=st.sampled_from([0, 1]),
)
@settings(max_examples=60, deadline=None)
def test_qoi_roundtrip_lossless_any_image(h, w, seed, alpha, mode, colorspace):
    """build_qoi → decode_qoi is bit-lossless for every shape, channel
    count, colorspace, and pixel pattern (each pattern family forces a
    different op mix: noise → RGB/RGBA, flat → RUN, repeated rows →
    INDEX, ramps → DIFF/LUMA); encoding is deterministic."""
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.qoi import (
        build_qoi,
        decode_qoi,
        probe_qoi,
    )

    rng = np.random.default_rng(seed)
    ch = 4 if alpha else 3
    if mode == "noise":
        px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    elif mode == "flat":
        px = np.full((h, w, ch), int(rng.integers(0, 256)), dtype=np.uint8)
    elif mode == "rows":
        px = np.repeat(rng.integers(0, 256, (1, w, ch), dtype=np.uint8), h, 0)
    else:
        px = (np.arange(h * w * ch) % 256).astype(np.uint8).reshape(h, w, ch)
    payload = build_qoi(px, colorspace=colorspace)
    m = probe_qoi(payload)
    assert (m["width"], m["height"], m["channels"], m["colorspace"]) == (
        w, h, ch, colorspace,
    )
    out, cs = decode_qoi(payload)
    assert cs == colorspace
    assert out.shape == px.shape and (out == px).all()
    assert build_qoi(px, colorspace=colorspace) == payload


@given(payload=st.binary(min_size=0, max_size=96))
@settings(max_examples=60, deadline=None)
def test_qoi_decode_rejects_arbitrary_bytes_cleanly(payload):
    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.qoi import decode_qoi

    with pytest.raises(ValueError):
        decode_qoi(payload)
    # a valid prefix with a torn tail must also raise, never truncate
    with pytest.raises(ValueError):
        decode_qoi(b"qoif" + payload)


def test_qoi_known_opcode_bytes():
    # hand-assembled stream exercising every op against spec values:
    # px0 RGB(10,20,30); px1 DIFF(+1,+1,+1); px2 LUMA(dg=8, dr-dg=-3,
    # db-dg=5); px3 RUN(2) repeats px2; px5 INDEX back to px0's slot;
    # px6 RGBA switches alpha
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.qoi import (
        _hash,
        build_qoi,
        decode_qoi,
    )

    px = np.zeros((1, 7, 4), dtype=np.uint8)
    px[0, 0] = (10, 20, 30, 255)
    px[0, 1] = (11, 21, 31, 255)
    px[0, 2] = (16, 29, 44, 255)   # dg=8, dr=5(=-3+8), db=13(=5+8)
    px[0, 3] = (16, 29, 44, 255)
    px[0, 4] = (16, 29, 44, 255)
    px[0, 5] = (10, 20, 30, 255)
    px[0, 6] = (10, 20, 30, 128)
    payload = build_qoi(px)
    body = payload[14:-8]
    expect = bytes(
        [0xFE, 10, 20, 30]                    # RGB
        + [0x40 | (3 << 4) | (3 << 2) | 3]    # DIFF +1/+1/+1
        + [0x80 | (8 + 32), ((-3 + 8) << 4) | (5 + 8)]  # LUMA
        + [0xC0 | 1]                          # RUN of 2
        + [0x00 | _hash(10, 20, 30, 255)]     # INDEX
        + [0xFF, 10, 20, 30, 128]             # RGBA
    )
    assert body == expect
    out, _ = decode_qoi(payload)
    assert (out == px).all()


def test_qoi_torn_final_op_raises_not_silent_garbage():
    # ADVICE r8: a corrupt stream whose FINAL op is a torn
    # OP_RGB/OP_RGBA/OP_LUMA at pos=end-1 used to read its operand
    # bytes out of the 8-byte end marker (zeros), complete the pixel
    # count with garbage, and pass the trailing-bytes check — the
    # strict contract demands a raise instead.
    import struct

    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.qoi import decode_qoi

    def qoi(w, h, body):
        header = b"qoif" + struct.pack(">IIBB", w, h, 4, 0)
        return header + body + b"\x00" * 7 + b"\x01"

    # 2 pixels: one complete OP_RGB, then a torn OP_RGB with no operands
    with pytest.raises(ValueError, match="OP_RGB operands overrun"):
        decode_qoi(qoi(2, 1, bytes([0xFE, 10, 20, 30, 0xFE])))
    # torn OP_RGBA
    with pytest.raises(ValueError, match="OP_RGBA operands overrun"):
        decode_qoi(qoi(2, 1, bytes([0xFE, 10, 20, 30, 0xFF, 1, 2])))
    # torn OP_LUMA (tag 0x80, second byte missing)
    with pytest.raises(ValueError, match="OP_LUMA operand overruns"):
        decode_qoi(qoi(2, 1, bytes([0xFE, 10, 20, 30, 0x80 | 40])))


def test_webp_probe_short_header_raises_value_error():
    # ADVICE r8: a 16-19-byte payload with valid RIFF/WEBP magic used
    # to raise struct.error from the chunk-size unpack instead of the
    # documented ValueError.
    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.webp import probe_webp

    for n_extra in range(4):  # 16..19 total bytes
        payload = b"RIFF\x08\x00\x00\x00WEBPVP8 "[: 16 + n_extra]
        with pytest.raises(ValueError, match="not a WebP payload"):
            probe_webp(payload)


def test_qoi_decode_media_features_match_pixel_sums():
    # decode_media dispatches qoif payloads to exact channel sums,
    # alpha excluded (the PNG rule)
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.qoi import build_qoi
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (6, 5, 4), dtype=np.uint8)
    got = decode_media("image", build_qoi(px))
    s = px[:, :, :3].reshape(-1, 3).astype(np.int64).sum(axis=0)
    assert got == {
        "width": 5,
        "height": 6,
        "sum_r": int(s[0]),
        "sum_g": int(s[1]),
        "sum_b": int(s[2]),
    }


@given(
    n=st.integers(1, 400),
    rate=st.sampled_from([8000, 11025, 22050, 44100, 44056, 48000]),
    ch=st.sampled_from([1, 2]),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=50, deadline=None)
def test_aiff_roundtrip_lossless_and_extended80_exact(n, rate, ch, seed):
    """build_aiff → aiff_samples is bit-lossless for 16-bit PCM at any
    channel count, and the 80-bit extended sample rate survives the
    encode/decode exactly (every integer rate is representable)."""
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.aiff import (
        aiff_samples,
        build_aiff,
        probe_aiff,
    )

    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, n * ch, dtype=np.int64).astype(
        "int16"
    )
    payload = build_aiff(samples, sample_rate=rate, n_channels=ch)
    m = probe_aiff(payload)
    assert (m["n_channels"], m["n_frames"], m["bits"]) == (ch, n, 16)
    assert m["sample_rate"] == float(rate)  # extended80 is exact here
    assert m["codec"] == "pcm"
    got_rate, got_ch, arr = aiff_samples(payload)
    assert (got_rate, got_ch) == (rate, ch)
    assert (arr == samples.astype(np.int64)).all()


@given(payload=st.binary(min_size=0, max_size=96))
@settings(max_examples=50, deadline=None)
def test_aiff_rejects_arbitrary_bytes_cleanly(payload):
    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.aiff import probe_aiff

    with pytest.raises((ValueError, NotImplementedError)):
        probe_aiff(payload)
    with pytest.raises((ValueError, NotImplementedError)):
        probe_aiff(b"FORM" + payload)


def test_aiff_decode_media_and_probe_dispatch():
    # decode_media energy matches the sample vector exactly; AIFC
    # compressed forms raise at the codec seam; media_probe reports
    # geometry without decoding
    import struct

    import numpy as np
    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.aiff import (
        _encode_extended80,
        build_aiff,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    samples = np.array([100, -200, 300, -400, 500, -600], dtype=np.int16)
    payload = build_aiff(samples, sample_rate=8000, n_channels=2)
    got = decode_media("audio", payload)
    assert got == {
        "sample_rate": 8000,
        "n_channels": 2,
        "n_samples": 6,
        "energy": int((samples.astype(np.int64) ** 2).sum()),
    }
    # hand-build an AIFC COMM with the 'ima4' compression type
    comm = (
        struct.pack(">HIH", 1, 4, 16)
        + _encode_extended80(8000.0)
        + b"ima4"
        + b"\x00"
    )
    body = b"COMM" + struct.pack(">I", len(comm)) + comm + b"\x00" * (len(comm) & 1)
    aifc = b"FORM" + struct.pack(">I", 4 + len(body)) + b"AIFC" + body
    with pytest.raises(NotImplementedError):
        decode_media("audio", aifc)


@given(
    n_blocks=st.integers(1, 4),
    block_align=st.sampled_from([16, 64, 256]),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=40, deadline=None)
def test_adpcm_stereo_roundtrip_tracks_and_separates_channels(
    n_blocks, block_align, seed
):
    """Stereo encode → decode keeps channels independent (each tracks
    its own smooth signal within the step-size error bound) and the
    probe geometry matches the decoder's frame count exactly."""
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.adpcm import (
        STEP_TABLE,
        adpcm_decode_stereo,
        adpcm_encode_stereo,
        adpcm_n_samples,
        stereo_samples_per_block,
    )

    rng = np.random.default_rng(seed)
    frames = n_blocks * stereo_samples_per_block(block_align)
    # two unrelated smooth walks — decoding must not cross-pollinate
    left = np.cumsum(rng.integers(-60, 61, frames)).clip(-30000, 30000)
    right = np.cumsum(rng.integers(-60, 61, frames)).clip(-30000, 30000)
    inter = np.empty(2 * frames, dtype=np.int16)
    inter[0::2] = left
    inter[1::2] = right
    enc = adpcm_encode_stereo(inter, block_align)
    dec = adpcm_decode_stereo(enc, block_align)
    assert dec.size == 2 * frames
    assert adpcm_n_samples(len(enc), block_align, 2) == frames
    # block-leading frames are verbatim
    spb = stereo_samples_per_block(block_align)
    for b in range(n_blocks):
        assert dec[2 * b * spb] == left[b * spb]
        assert dec[2 * b * spb + 1] == right[b * spb]
    # tracking: error bounded by ~the max step reachable in-range
    err_l = np.abs(dec[0::2].astype(np.int64) - left)
    err_r = np.abs(dec[1::2].astype(np.int64) - right)
    bound = STEP_TABLE[88]
    assert err_l.max() <= bound and err_r.max() <= bound
    # smooth signals track much tighter than the worst-case bound
    assert np.median(err_l) < 200 and np.median(err_r) < 200


def test_adpcm_stereo_wav_decodes_distributed_with_exact_energy(spark):
    # the full path: stereo IMA WAV through wav_samples / decode_media
    # and the distributed media_decode lane, energies exact
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.adpcm import (
        adpcm_decode_stereo,
        adpcm_encode_stereo,
        build_adpcm_wav,
        stereo_samples_per_block,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        media_decode,
        wav_samples,
    )

    rng = np.random.default_rng(3)
    frames = 2 * stereo_samples_per_block(64)
    inter = (
        np.cumsum(rng.integers(-80, 81, 2 * frames)).clip(-30000, 30000)
    ).astype(np.int16)
    wav = build_adpcm_wav(
        inter, sample_rate=11025, block_align=64, n_channels=2
    )
    rate, n_ch, arr = wav_samples(wav)
    assert (rate, n_ch) == (11025, 2)
    expect = adpcm_decode_stereo(
        adpcm_encode_stereo(inter, 64), 64
    ).astype(np.int64)
    assert (arr == expect).all()
    feats = decode_media("audio", wav)
    assert feats["n_samples"] == 2 * frames
    assert feats["energy"] == int((expect * expect).sum())
    rows = [(1, "audio", bytearray(wav), None, None, None, None)]
    got = media_decode(
        spark.createDataFrame(rows, MEDIA_SCHEMA)
    ).collect()[0]
    assert got.ok and got.n_channels == 2
    assert got.energy == feats["energy"]


def test_adpcm_stereo_probe_duration_matches_decode(spark):
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.adpcm import (
        build_adpcm_wav,
        stereo_samples_per_block,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_probe,
        wav_samples,
    )

    frames = 3 * stereo_samples_per_block(256)
    inter = np.zeros(2 * frames, dtype=np.int16)
    wav = build_adpcm_wav(
        inter, sample_rate=22050, block_align=256, n_channels=2
    )
    rows = [(1, "audio", bytearray(wav), None, None, None, None)]
    got = media_probe(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()[0]
    assert got.ok and got.audio_codec == "ima_adpcm" and got.n_tracks == 2
    _, _, arr = wav_samples(wav)
    assert got.duration_sec == round((arr.size // 2) / 22050, 3)


@given(
    n=st.integers(1, 300),
    rate=st.sampled_from([8000, 16000, 44100]),
    ch=st.sampled_from([1, 2]),
    enc=st.sampled_from([2, 3]),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=50, deadline=None)
def test_au_roundtrip_lossless_pcm(n, rate, ch, enc, seed):
    """build_au → au_samples is bit-lossless for 8- and 16-bit linear
    PCM at any channel count; probe geometry matches without decode."""
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.au import (
        au_samples,
        build_au,
        probe_au,
    )

    rng = np.random.default_rng(seed)
    if enc == 3:
        samples = rng.integers(-32768, 32768, n * ch).astype("int16")
    else:
        samples = rng.integers(-128, 128, n * ch).astype("int8")
    payload = build_au(
        samples, sample_rate=rate, n_channels=ch, encoding=enc
    )
    m = probe_au(payload)
    assert (m["sample_rate"], m["n_channels"], m["n_frames"]) == (rate, ch, n)
    got_rate, got_ch, arr = au_samples(payload)
    assert (got_rate, got_ch) == (rate, ch)
    assert (arr == samples.astype(np.int64)).all()


def test_au_ulaw_decodes_through_shared_g711_tables():
    # an AU µ-law payload and a WAV µ-law payload of the SAME codes
    # must decode to identical linear samples (one companding table,
    # two containers)
    import numpy as np

    from data_ingestion_s3_to_parquet_spark.functions.au import (
        AU_ENC_ULAW,
        au_samples,
        build_au,
    )
    from data_ingestion_s3_to_parquet_spark.functions.g711 import ulaw_decode

    rng = np.random.default_rng(5)
    codes = rng.integers(0, 256, 500, dtype=np.uint8)
    payload = build_au(
        codes, sample_rate=8000, n_channels=1, encoding=AU_ENC_ULAW
    )
    rate, ch, arr = au_samples(payload)
    assert (rate, ch) == (8000, 1)
    assert (arr == ulaw_decode(codes.tobytes()).astype(np.int64)).all()
    # unknown-size header (0xFFFFFFFF) still decodes to the full tail
    import struct

    patched = payload[:8] + struct.pack(">I", 0xFFFFFFFF) + payload[12:]
    _, _, arr2 = au_samples(patched)
    assert (arr2 == arr).all()


def test_au_probe_decode_media_and_rejections():
    import struct

    import numpy as np
    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.au import build_au
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        decode_media,
    )

    samples = np.array([1000, -2000, 3000, -4000], dtype=np.int16)
    payload = build_au(samples, sample_rate=16000, n_channels=2)
    got = decode_media("audio", payload)
    assert got == {
        "sample_rate": 16000,
        "n_channels": 2,
        "n_samples": 4,
        "energy": int((samples.astype(np.int64) ** 2).sum()),
    }
    # a float-encoded AU (encoding 6) raises at the codec seam
    hdr = b".snd" + struct.pack(">IIIII", 24, 8, 6, 8000, 1)
    with pytest.raises(NotImplementedError):
        decode_media("audio", hdr + b"\x00" * 8)
    with pytest.raises(ValueError):
        decode_media("audio", b".snd\x00\x00")  # truncated header


@given(
    n=st.integers(1, 12),
    k=st.integers(1, 12),
    lam=st.integers(0, 10),
    seed=st.integers(0, 100_000),
)
@settings(max_examples=120, deadline=None)
def test_mmr_greedy_invariants_on_random_pools(n, k, lam, seed):
    """Fuzz the pure MMR greedy: selections are distinct, count is
    min(k, n), the first pick is the max-relevance doc (ties to the
    smaller id), penalties are achievable maxima over the selected
    prefix, winning objectives are non-increasing (candidate set
    shrinks, penalties only grow), and with lam = 10 the output is
    exactly relevance order."""
    import random

    from data_ingestion_s3_to_parquet_spark.operators.relational12 import (
        mmr_greedy,
    )

    rng = random.Random(seed)
    ids = rng.sample(range(1000), n)
    rel = {d: rng.randrange(0, 1_000_001) for d in ids}
    sim = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if rng.random() < 0.6:
                v = rng.randrange(0, 1_000_001)
                sim[(a, b)] = sim[(b, a)] = v
    out = mmr_greedy(rel, sim, k=k, lam_tenths=lam)
    assert len(out) == min(k, n)
    picked = [r[1] for r in out]
    assert len(set(picked)) == len(picked)
    assert [r[0] for r in out] == list(range(1, len(out) + 1))
    if lam > 0:  # lam=0 zeroes round-1 objectives -> pure id tie-break
        best_rel = max(rel.values())
        assert rel[picked[0]] == best_rel
        assert picked[0] == min(d for d in ids if rel[d] == best_rel)
    else:
        assert picked[0] == min(ids)
    objs = [r[4] for r in out]
    assert all(a >= b for a, b in zip(objs, objs[1:]))
    for rank, d, rv, pen, obj in out:
        assert rv == rel[d]
        prefix = picked[: rank - 1]
        assert pen == max((sim.get((d, s), 0) for s in prefix), default=0)
        assert obj == lam * rv - (10 - lam) * pen
    if lam == 10:  # no diversity term: pure relevance order
        assert picked == sorted(ids, key=lambda d: (-rel[d], d))[: len(out)]


def test_qoi_hostile_header_rejected_before_allocation():
    # a 14-byte header claiming 2^31 x 2^31 pixels over an 8-byte
    # stream must raise the spec-derived run-bound check, never
    # attempt the h*w allocation
    import struct

    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.qoi import decode_qoi

    hdr = b"qoif" + struct.pack(">II", 2**31, 2**31) + bytes([3, 0])
    payload = hdr + b"\xc0" * 8 + b"\x00" * 7 + b"\x01"
    with pytest.raises(ValueError, match="can encode at most"):
        decode_qoi(payload)


@given(
    w=st.integers(1, 16000),
    h=st.integers(1, 16000),
    flavor=st.sampled_from(["vp8", "vp8l", "vp8x"]),
)
@settings(max_examples=60, deadline=None)
def test_webp_probe_reads_back_builder_geometry(w, h, flavor):
    from data_ingestion_s3_to_parquet_spark.functions.webp import (
        build_test_webp,
        probe_webp,
    )

    if flavor in ("vp8", "vp8l") and (w > 16383 or h > 16383):
        w, h = min(w, 16383), min(h, 16383)
    m = probe_webp(build_test_webp(width=w, height=h, flavor=flavor))
    assert (m["width"], m["height"], m["codec"]) == (w, h, flavor)


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=60, deadline=None)
def test_webp_and_webm_reject_arbitrary_bytes_cleanly(payload):
    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.ebml import probe_webm
    from data_ingestion_s3_to_parquet_spark.functions.webp import probe_webp

    with pytest.raises(ValueError):
        probe_webp(payload)
    with pytest.raises(ValueError):
        probe_webm(payload)
    # valid magic + garbage tail must still raise, never loop/return junk
    with pytest.raises(ValueError):
        probe_webm(b"\x1a\x45\xdf\xa3" + payload + b"\x00")


def test_webm_probe_and_media_probe_dispatch(spark):
    from data_ingestion_s3_to_parquet_spark.functions.ebml import (
        build_test_webm,
        probe_webm,
    )
    from data_ingestion_s3_to_parquet_spark.functions.webp import (
        build_test_webp,
    )
    from data_ingestion_s3_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_probe,
    )

    wm = build_test_webm(
        width=1920, height=1080, duration_ms=4500.0, video_codec="V_VP8"
    )
    m = probe_webm(wm)
    assert (m["width"], m["height"], m["duration_sec"]) == (1920, 1080, 4.5)
    assert (m["video_codec"], m["audio_codec"]) == ("V_VP8", "A_OPUS")

    rows = [
        (1, "video", bytearray(wm), None, None, None, None),
        (2, "image", bytearray(build_test_webp(width=33, height=44)),
         None, None, None, None),
    ]
    got = {
        r.media_id: r
        for r in media_probe(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    v = got[1]
    assert (v.container, v.video_codec, v.audio_codec) == (
        "webm", "V_VP8", "A_OPUS",
    )
    assert (v.width, v.height, v.duration_sec, v.n_tracks) == (
        1920, 1080, 4.5, 2,
    )
    p = got[2]
    assert (p.container, p.video_codec, p.width, p.height) == (
        "webp", "vp8l", 33, 44,
    )


@given(
    data=st.binary(min_size=0, max_size=2000),
    name=st.sampled_from([None, "shard-0001.jsonl", "wärc.seg"]),
    mtime=st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_gzip_probe_matches_stdlib_writer(data, name, mtime):
    """probe_gzip reads back exactly what stdlib gzip wrote: method 8,
    mtime, embedded filename, and the RFC 1952 ISIZE/CRC32 trailer —
    all without decompressing."""
    import gzip as _gzip
    import io
    import zlib

    from data_ingestion_s3_to_parquet_spark.functions.gzipmeta import (
        probe_gzip,
    )

    buf = io.BytesIO()
    with _gzip.GzipFile(
        filename=name or "", mode="wb", fileobj=buf, mtime=mtime
    ) as gf:
        gf.write(data)
    payload = buf.getvalue()
    m = probe_gzip(payload)
    assert m["mtime"] == mtime
    assert m["name"] == name  # stdlib writes FNAME latin-1, per RFC
    assert m["isize"] == len(data) % 2**32
    assert m["crc32"] == zlib.crc32(data) & 0xFFFFFFFF
    assert m["compressed_len"] == len(payload)


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=60, deadline=None)
def test_gzip_probe_rejects_arbitrary_bytes_cleanly(payload):
    import pytest

    from data_ingestion_s3_to_parquet_spark.functions.gzipmeta import (
        probe_gzip,
    )

    with pytest.raises(ValueError):
        probe_gzip(payload)
    with pytest.raises(ValueError):
        probe_gzip(b"\x1f\x8b" + payload)


# --- round-9 lanes: drift_ks / quantile_select fuzz ---------------------------

import datetime as _dt

_ks_prices = st.lists(
    st.tuples(
        # prices spanning several prefix-sum buckets, incl. exact
        # bucket-boundary values (10k multiples)
        st.sampled_from(
            [500.0, 9_999.99, 10_000.0, 10_000.01, 25_000.0,
             49_999.5, 50_000.0, 137_500.25, 480_000.0]
        ),
        st.booleans(),  # True -> baseline snapshot (before the pivot)
    ),
    min_size=1,
    max_size=24,
)


@given(sample=_ks_prices)
@slow_ok
def test_drift_ks_matches_python_on_any_sample(
    spark, sample, tmp_path_factory
):
    """The two-phase bucketed ECDF equals the single-pass Python walk
    for ARBITRARY samples — including one-sided snapshots (n=0 on a
    side), all-equal values, and bucket-boundary prices."""
    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        q_drift_ks,
    )

    tmp = tmp_path_factory.mktemp("ks")
    before = _dt.datetime(1996, 1, 1)
    after = _dt.datetime(2000, 1, 1)
    rows = [
        (i, 1, "O", p, before if base else after, "5-LOW")
        for i, (p, base) in enumerate(sample)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))

    from collections import defaultdict

    d = defaultdict(lambda: [0, 0])
    for p, base in sample:
        d[p][0 if base else 1] += 1
    n1 = sum(v[0] for v in d.values())
    n2 = sum(v[1] for v in d.values())
    c1 = c2 = ks = 0
    for p in sorted(d):
        c1 += d[p][0]
        c2 += d[p][1]
        ks = max(ks, abs(c1 * n2 - c2 * n1))

    r = q_drift_ks(spark, str(tmp)).collect()[0]
    assert (r.n_ref, r.n_cur, r.ks_num) == (n1, n2, ks)
    if n1 and n2:
        assert r.ks_micro == round(1_000_000 * ks / (float(n1) * n2))
    else:
        # a one-sided sample has zero gap by definition; the shared
        # CASE guard must return 0, never a NaN-cast
        assert (r.ks_num, r.ks_micro) == (0, 0)


_qsel_prices = st.lists(
    st.tuples(
        st.sampled_from(["N", "A", "R"]),
        # includes duplicate-heavy and bucket-boundary values
        st.sampled_from(
            [9.13, 100.0, 499.995, 500.0, 500.01, 777.77, 1_023.5]
        ),
    ),
    min_size=1,
    max_size=24,
)


@given(sample=_qsel_prices)
@slow_ok
def test_quantile_select_matches_python_on_any_sample(
    spark, sample, tmp_path_factory
):
    """Distributed selection equals the sorted-list rank lookup for
    ARBITRARY per-group samples — including n=1 groups (every rank is
    1), all-ties, and values on the selection-bucket boundary; the
    sketch contract must also hold on every draw."""
    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        QSEL_QUANTILES,
        q_quantile_select,
    )

    tmp = tmp_path_factory.mktemp("qsel")
    d = _dt.datetime(1997, 1, 1)
    rows = [
        (i, 1, 1, 1, 1.0, price, 0.0, flag, "O", d)
        for i, (flag, price) in enumerate(sample)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp / "lineitem.parquet"))

    from collections import defaultdict

    by_f = defaultdict(list)
    for flag, price in sample:
        by_f[flag].append(round(price * 100))
    expected = {}
    for f, vals in by_f.items():
        vals.sort()
        n = len(vals)
        for qn, qd, lab in QSEL_QUANTILES:
            tr = (qn * n + qd - 1) // qd
            expected[(f, lab)] = (n, tr, vals[tr - 1])

    got = {
        (r.l_returnflag, r.quantile): r
        for r in q_quantile_select(spark, str(tmp)).collect()
    }
    assert set(got) == set(expected)
    for key, (n, tr, cents) in expected.items():
        r = got[key]
        assert (r.n_rows, r.target_rank, r.exact_cents) == (n, tr, cents)
        assert r.approx_ok


_roll_events = st.lists(
    st.tuples(
        st.integers(0, 2),          # user
        st.integers(0, 3),          # ts offset minutes (ties likely)
        st.sampled_from([0.01, 10.0, 10.0, 999.99]),  # dup-heavy values
    ),
    min_size=1,
    max_size=20,
)


@given(events=_roll_events)
@slow_ok
def test_rolling_median_matches_python_on_any_stream(
    spark, events, tmp_path_factory
):
    """The bounded-ROWS-frame median equals a per-user Python replay
    for ARBITRARY streams — including timestamp ties (event_id breaks
    them), duplicate values, and windows shorter than W."""
    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        ROLL_W,
        q_rolling_median,
    )

    tmp = tmp_path_factory.mktemp("roll")
    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, base + _dt.timedelta(minutes=m), u, "click", v, "{}")
        for i, (u, m, v) in enumerate(events)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    from collections import defaultdict

    per_user = defaultdict(list)
    for i, (u, m, v) in enumerate(events):
        per_user[u].append((m, i, round(v * 100)))
    expected = {}
    for u, evs in per_user.items():
        evs.sort()  # (ts, event_id) total order
        for pos in range(len(evs)):
            w = sorted(c for _, _, c in evs[max(0, pos - ROLL_W + 1): pos + 1])
            expected[evs[pos][1]] = (len(w), w[(len(w) + 1) // 2 - 1])

    got = {
        r.event_id: (r.n_window, r.median_cents)
        for r in q_rolling_median(spark, str(tmp)).collect()
    }
    assert got == expected


_salt_events = st.lists(
    st.tuples(st.integers(0, 5), st.sampled_from([1.0, 2.5, 33.33])),
    min_size=1,
    max_size=40,
)


@given(events=_salt_events)
@slow_ok
def test_skew_autosalt_matches_python_on_any_stream(
    spark, events, tmp_path_factory
):
    """Decision table (top-k by count desc / user asc, ceil fan-out)
    plus salted sums and realized-part counts equal a Python replay
    for ARBITRARY streams — including <k distinct users and heavy
    duplicate values."""
    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        SALT_TARGET_ROWS,
        SALT_TOPK,
        q_skew_autosalt,
    )

    tmp = tmp_path_factory.mktemp("salt")
    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, base, u, "click", v, "{}") for i, (u, v) in enumerate(events)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    from collections import defaultdict

    per = defaultdict(list)
    for i, (u, v) in enumerate(events):
        per[u].append((i, round(v * 100)))
    ranked = sorted(per, key=lambda u: (-len(per[u]), u))[:SALT_TOPK]
    expected = {}
    for u in ranked:
        n = len(per[u])
        b = (n + SALT_TARGET_ROWS - 1) // SALT_TARGET_ROWS
        expected[u] = (
            n,
            b,
            len({eid % b for eid, _ in per[u]}),
            sum(c for _, c in per[u]),
        )

    got = {
        r.user_id: (r.n_rows, r.salt_buckets, r.n_salt_parts, r.sum_cents)
        for r in q_skew_autosalt(spark, str(tmp)).collect()
    }
    assert got == expected


_kanon_rows = st.lists(
    st.tuples(st.integers(0, 2), st.sampled_from(["A", "B"]),
              st.sampled_from([-500.0, 100.0, 2100.0])),
    min_size=1,
    max_size=40,
)


@given(rows=_kanon_rows)
@slow_ok
def test_privacy_kanon_matches_python_on_any_table(
    spark, rows, tmp_path_factory
):
    """Band rollups equal a Python replay for ARBITRARY QI tables —
    including negative balances (the offset keeps div == floor-div)."""
    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        KANON_BAL_BAND,
        KANON_BAL_OFFSET,
        KANON_K,
        q_privacy_kanon,
    )

    tmp = tmp_path_factory.mktemp("kanon")
    spark.createDataFrame(
        [(i, f"C#{i}", n, b, s) for i, (n, s, b) in enumerate(rows)],
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp / "customer.parquet"))

    from collections import Counter

    classes = Counter(
        (n, s, (round(b * 100) + KANON_BAL_OFFSET) // KANON_BAL_BAND)
        for n, s, b in rows
    )

    def band(sz):
        return "1" if sz == 1 else "2-4" if sz <= 4 else "5-9" if sz <= 9 else "10+"

    expected = {}
    for sz in classes.values():
        k = band(sz)
        nc, nr, v = expected.get(k, (0, 0, False))
        expected[k] = (nc + 1, nr + sz, v or sz < KANON_K)

    got = {
        r.size_band: (r.n_classes, r.n_rows, r.violates_k)
        for r in q_privacy_kanon(spark, str(tmp)).collect()
    }
    assert got == expected


_recon_pairs = st.tuples(
    # header rows: (orderkey, totalprice)
    st.lists(st.tuples(st.integers(0, 6), st.sampled_from(
        [0.0, 10.0, 95.0, 100.0, 109.0, 111.0, 500.0])),
        min_size=0, max_size=7, unique_by=lambda t: t[0]),
    # detail rows: (orderkey, extendedprice) — repeats sum per order
    st.lists(st.tuples(st.integers(0, 8), st.sampled_from(
        [5.0, 10.0, 50.0, 100.0])), min_size=0, max_size=10),
)


@given(pair=_recon_pairs)
@slow_ok
def test_reconcile_sources_matches_python_on_any_pair(
    spark, pair, tmp_path_factory
):
    """Every classifier branch (exact / within_10pct via cross-
    multiplied integers / mismatch / left_only / right_only) and the
    share/drift rollups equal a Python replay for ARBITRARY
    header/detail pairs — including zero-value headers and empty
    sides."""
    import datetime as dt

    from hypothesis import assume

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        q_reconcile_sources,
    )

    orders, details = pair
    assume(orders or details)  # at least one row somewhere
    tmp = tmp_path_factory.mktemp("recon")
    d = dt.datetime(1997, 1, 1)
    spark.createDataFrame(
        [(k, 1, "O", p, d, "5-LOW") for k, p in orders] or
        [(999_999, 1, "O", 1.0, d, "5-LOW")][:0],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    spark.createDataFrame(
        [(k, 1, 1, i, 1.0, p, 0.0, "N", "O", d)
         for i, (k, p) in enumerate(details)],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp / "lineitem.parquet"))

    from collections import defaultdict

    li = defaultdict(int)
    for k, p in details:
        li[k] += round(p * 100)
    o = {k: round(p * 100) for k, p in orders}
    rows = []
    for k in set(o) | set(li):
        oc = o.get(k)
        lc = li.get(k)
        if oc is None:
            rows.append(("right_only", 0))
        elif lc is None:
            rows.append(("left_only", 0))
        elif oc == lc:
            rows.append(("exact", 0))
        elif 10 * abs(oc - lc) <= oc:
            rows.append(("within_10pct", abs(oc - lc)))
        else:
            rows.append(("mismatch", abs(oc - lc)))
    n_total = len(rows)
    expected = {}
    for status, drift in rows:
        n, dr = expected.get(status, (0, 0))
        expected[status] = (n + 1, dr + drift)
    expected = {
        s: (n, round(1_000_000 * n / n_total), dr)
        for s, (n, dr) in expected.items()
    }

    got = {
        r.status: (r.n, r.share_micro, r.abs_drift_cents)
        for r in q_reconcile_sources(spark, str(tmp)).collect()
    }
    assert got == expected


_fc_events = st.lists(
    st.tuples(
        st.booleans(),            # train side?
        st.integers(0, 2),        # hour of day (small key space)
        st.sampled_from(["click", "view"]),
        st.sampled_from([1.0, 8.0, 12.0, 99.99]),
    ),
    min_size=1,
    max_size=20,
)


@given(events=_fc_events)
@slow_ok
def test_forecast_snaive_matches_python_on_any_split(
    spark, events, tmp_path_factory
):
    """Profile means, coverage accounting, and MAE equal a Python
    replay (Decimal HALF_UP, matching both engines' double ROUND) for
    ARBITRARY train/holdout splits — including types with no training
    rows (they simply don't appear: no profile AND no n_train row)
    and holdout hours unseen in training (counted, not scored)."""
    import datetime as dt
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import assume

    from data_ingestion_s3_to_parquet_spark.operators.relational13 import (
        FC_PIVOT_TS,
        q_forecast_snaive,
    )

    pivot = dt.datetime.fromisoformat(FC_PIVOT_TS)
    tmp = tmp_path_factory.mktemp("fc")
    rows = []
    for i, (train, hod, etype, v) in enumerate(events):
        ts = (pivot - dt.timedelta(days=2) if train
              else pivot + dt.timedelta(days=1))
        rows.append((i, ts.replace(hour=hod), 1, etype, v, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    from collections import defaultdict

    def half_up(num, den):
        return int(
            (Decimal(num) / Decimal(den)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )

    prof = defaultdict(lambda: [0, 0])  # (etype, hod) -> [n, sum_cents]
    tr_n = defaultdict(int)
    ho = defaultdict(list)  # etype -> [(hod, cents)]
    for train, hod, etype, v in events:
        c = round(v * 100)
        if train:
            prof[(etype, hod)][0] += 1
            prof[(etype, hod)][1] += c
            tr_n[etype] += 1
        else:
            ho[etype].append((hod, c))
    fc = {
        k: half_up(1_000_000 * s, n) for k, (n, s) in prof.items()
    }
    expected = {}
    for etype, evs in ho.items():
        if etype not in tr_n:
            continue  # inner join on the per-type train frame
        errs = [
            abs(c * 1_000_000 - fc[(etype, h)])
            for h, c in evs
            if (etype, h) in fc
        ]
        expected[etype] = (
            tr_n[etype],
            len(evs),
            len(errs),
            half_up(sum(errs), len(errs)) if errs else None,
        )
    # a type with training rows but NO holdout rows emits nothing
    # (holdout-side aggregation) — mirror that
    assume(expected)  # need at least one output row to compare

    got = {
        r.event_type: (r.n_train, r.n_holdout, r.n_covered, r.mae_micro)
        for r in q_forecast_snaive(spark, str(tmp)).collect()
    }
    assert got == expected


_rollq_events = st.lists(
    st.tuples(st.integers(0, 2), st.sampled_from([1.0, 2.5, 33.33, 7.0])),
    min_size=1,
    max_size=40,
)


@given(events=_rollq_events)
@slow_ok
def test_rolling_quantile_matches_python_on_any_stream(
    spark, events, tmp_path_factory
):
    """The trailing-frame type-1 quantile band equals a Python replay
    for ARBITRARY per-user streams — including frames shorter than W,
    duplicate values (tie ranks), and single-event users. The replay
    re-implements only the contract (sort the last W cents, pick rank
    (qn*n + qd - 1) // qd), not the plan."""
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        ROLLQ_QUANTILES,
        ROLLQ_W,
        q_rolling_quantile,
    )

    tmp = tmp_path_factory.mktemp("rollq")
    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, base + _dt.timedelta(minutes=i), u, "click", v, "{}")
        for i, (u, v) in enumerate(events)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    from collections import defaultdict

    per = defaultdict(list)
    for i, (u, v) in enumerate(events):
        per[u].append((i, round(v * 100)))
    expected = {}
    for u, evs in per.items():
        evs.sort()  # (event_id) — ts ties broken by event_id
        for pos, (eid, _) in enumerate(evs):
            frame = sorted(c for _, c in evs[max(0, pos - ROLLQ_W + 1): pos + 1])
            n = len(frame)
            picks = tuple(
                frame[(qn * n + qd - 1) // qd - 1] for qn, qd, _ in ROLLQ_QUANTILES
            )
            expected[eid] = (n, *picks)

    got = {
        r.event_id: (r.n_window, r.p25_cents, r.p50_cents, r.p90_cents)
        for r in q_rolling_quantile(spark, str(tmp)).collect()
    }
    assert got == expected


_alert_events = st.lists(
    st.tuples(st.sampled_from(["click", "view"]), st.integers(0, 30)),
    min_size=1,
    max_size=60,
)


@given(events=_alert_events)
@slow_ok
def test_alert_rate_spike_matches_python_on_any_stream(
    spark, events, tmp_path_factory
):
    """Bucket counts, trailing-24-observed-bucket baselines, and the
    cross-multiplied alert flag equal a Python replay for ARBITRARY
    (type, hour) streams — including gap hours (observed-bucket frames
    skip them by design), single-bucket types, and spikes at the very
    first bucket (never alert: no baseline)."""
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        ALERT_BASELINE_BUCKETS,
        ALERT_FACTOR,
        q_alert_rate_spike,
    )

    tmp = tmp_path_factory.mktemp("alert")
    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, base + _dt.timedelta(hours=h, minutes=i % 60), 1, typ, 1.0, "{}")
        for i, (typ, h) in enumerate(events)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    from collections import Counter, defaultdict

    counts = Counter((typ, h) for typ, h in events)
    per_type = defaultdict(list)
    for (typ, h), n in counts.items():
        per_type[typ].append((h, n))
    expected = {}
    for typ, buckets in per_type.items():
        buckets.sort()
        for pos, (h, n) in enumerate(buckets):
            prior = buckets[max(0, pos - ALERT_BASELINE_BUCKETS): pos]
            m = len(prior)
            s = sum(x for _, x in prior)
            expected[(typ, h)] = (n, m, s, m > 0 and n * m > ALERT_FACTOR * s)

    got = {
        (r.event_type, r.bucket_ts.hour + 24 * (r.bucket_ts.day - 1)):
            (r.n_events, r.base_n, r.base_sum, r.alert)
        for r in q_alert_rate_spike(spark, str(tmp)).collect()
    }
    assert got == expected


_compact_files = st.lists(
    st.tuples(st.sampled_from(["sa", "sb"]), st.integers(1, 6000)),
    min_size=1,
    max_size=40,
)


@given(files=_compact_files)
@slow_ok
def test_compaction_plan_matches_python_on_any_manifest(
    spark, files, tmp_path_factory
):
    """The two-phase bucket+carry decomposition equals the naive
    Python sorted-fill replay for ARBITRARY manifests — including size
    ties (doc_id order), sizes larger than the target (solo groups),
    and single-file sources."""
    from data_ingestion_s3_to_parquet_spark.operators.relational14 import (
        COMPACT_TARGET,
        q_compaction_plan,
    )

    tmp = tmp_path_factory.mktemp("compact")
    rows = [(i, "x", "en", src, b) for i, (src, b) in enumerate(files)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    from collections import defaultdict

    per = defaultdict(list)
    for i, (src, b) in enumerate(files):
        per[src].append((-b, i, b))
    expected = defaultdict(lambda: [0, 0])
    for src, fs in per.items():
        fs.sort()
        cum = 0
        for _, _, b in fs:
            g = cum // COMPACT_TARGET
            expected[(src, g)][0] += 1
            expected[(src, g)][1] += b
            cum += b

    got = {
        (r.source, r.group_id): [r.n_files, r.group_bytes]
        for r in q_compaction_plan(spark, str(tmp)).collect()
    }
    assert got == dict(expected)


def _half_up_long(v: float) -> int:
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(v)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


_sp_customers = st.lists(
    st.tuples(
        st.sampled_from(["S", "T"]),
        st.integers(1, 3),       # order count: tiny domain -> heavy ties
        st.integers(0, 500),     # total spend in cents (0 -> y ties too)
    ),
    min_size=1,
    max_size=25,
)


@given(customers=_sp_customers)
@slow_ok
def test_corr_spearman_matches_python_on_any_table(
    spark, customers, tmp_path_factory
):
    """Tie-aware double-ranks and the pinned rho op-sequence equal a
    Python replay for ARBITRARY populations — including all-tied
    segments (zero rank variance -> NULL), single-customer segments,
    and duplicate spends. The replay re-implements only the contract
    (2*rank + ties - 1, Pearson over ranks, half-up micro), not the
    plan."""
    import math

    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_corr_spearman,
    )

    tmp = tmp_path_factory.mktemp("spear")
    cust_rows = [
        (i, f"c{i}", 1, 0.0, seg) for i, (seg, _, _) in enumerate(customers)
    ]
    spark.createDataFrame(
        cust_rows, "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(str(tmp / "customer.parquet"))
    ordrows, ok = [], 0
    base = _dt.datetime(2024, 1, 1)
    for i, (_, x, cents) in enumerate(customers):
        for j in range(x):
            ok += 1
            # first order carries the whole spend; the rest are 0.00
            ordrows.append(
                (ok, i, "O", cents / 100 if j == 0 else 0.0, base, "p")
            )
    spark.createDataFrame(
        ordrows, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))

    from collections import defaultdict

    per = defaultdict(list)
    for seg, x, cents in customers:
        per[seg].append((x, cents))
    expected = {}
    for seg, pts in per.items():
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]

        def dr(vals):
            return [
                2 * (1 + sum(w < v for w in vals))
                + sum(w == v for w in vals) - 1
                for v in vals
            ]

        drx, dry = dr(xs), dr(ys)
        n = len(pts)
        sx, sy = sum(drx), sum(dry)
        sxy = sum(a * b for a, b in zip(drx, dry))
        sxx = sum(a * a for a in drx)
        syy = sum(b * b for b in dry)
        num = n * sxy - sx * sy
        varx = n * sxx - sx * sx
        vary = n * syy - sy * sy
        if varx == 0 or vary == 0:
            rho = None
        else:
            micro = _half_up_long(
                float(num) / math.sqrt(float(varx) * float(vary)) * 1_000_000
            )
            rho = micro / 1e6
        sum_d2 = sum((a - b) * (a - b) for a, b in zip(drx, dry))
        expected[seg] = (n, sum_d2, rho)

    got = {
        r.c_mktsegment: (r.n_customers, r.sum_d2, r.rho_spearman)
        for r in q_corr_spearman(spark, str(tmp)).collect()
    }
    assert got == expected


_tl_events = st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 5)),
    min_size=1,
    max_size=40,
)


@given(events=_tl_events)
@slow_ok
def test_trend_linfit_matches_python_on_any_stream(
    spark, events, tmp_path_factory
):
    """The OLS closed forms over exact integer statistics equal a
    Python replay for ARBITRARY streams — including single-day groups
    (no line -> all NULL) and flat series (slope 0, R^2 NULL)."""
    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        TREND_EPOCH,
        q_trend_linfit,
    )

    tmp = tmp_path_factory.mktemp("linfit")
    base = _dt.datetime.combine(TREND_EPOCH, _dt.time(9, 30))
    rows = [
        (i, base + _dt.timedelta(days=day), 1, t, 1.0, "{}")
        for i, (t, day) in enumerate(events)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))

    from collections import Counter, defaultdict

    daily = defaultdict(Counter)
    for t, day in events:
        daily[t][day] += 1
    expected = {}
    for t, cnt in daily.items():
        pts = sorted(cnt.items())
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        num_s = n * sxy - sx * sy
        den = n * sxx - sx * sx
        num_i = sy * sxx - sx * sxy
        vary = n * syy - sy * sy
        if den == 0:
            slope = icept = r2 = None
        else:
            slope = _half_up_long(float(num_s) / float(den) * 1_000_000) / 1e6
            icept = _half_up_long(float(num_i) / float(den) * 1_000_000) / 1e6
            r2 = (
                None
                if vary == 0
                else _half_up_long(
                    float(num_s) * float(num_s)
                    / (float(den) * float(vary)) * 1_000_000
                )
            )
        expected[t] = (n, slope, icept, r2)

    got = {
        r.event_type: (r.n_days, r.slope_per_day, r.intercept_day0, r.r2_micro)
        for r in q_trend_linfit(spark, str(tmp)).collect()
    }
    assert got == expected


_aov_orders = st.lists(
    st.tuples(st.sampled_from(["A", "B"]), st.integers(0, 20)),
    min_size=1,
    max_size=30,
)


@given(orders=_aov_orders)
@slow_ok
def test_anova_oneway_matches_python_on_any_table(
    spark, orders, tmp_path_factory
):
    """The unit-quantized SSB/SSW decomposition and the pinned F
    sequence equal a Python replay for ARBITRARY tables — including
    single-group designs (no between d.f. -> NULL F), all-equal
    values (SSW quantized to 0 -> NULL F), and single-row groups."""
    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_anova_oneway,
    )

    tmp = tmp_path_factory.mktemp("aov")
    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, "O", float(v), base, grp) for i, (grp, v) in enumerate(orders)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))

    from collections import defaultdict

    per = defaultdict(list)
    for grp, v in orders:
        per[grp].append(v)  # integer dollars: (100v + 50) // 100 == v
    k = len(per)
    n_tot = len(orders)
    stats = {
        g: (len(vs), sum(vs), sum(v * v for v in vs)) for g, vs in per.items()
    }
    t_units = {
        g: _half_up_long(float(s) * float(s) / n) for g, (n, s, _) in stats.items()
    }
    sum_t = sum(t_units.values())
    s_tot = sum(s for _, s, _ in stats.values())
    ss_tot = sum(ss for _, _, ss in stats.values())
    grand = _half_up_long(float(s_tot) * float(s_tot) / n_tot)
    ssb = sum_t - grand
    ssw = ss_tot - sum_t
    if k < 2 or n_tot - k < 1 or ssw <= 0:
        f_stat = None
    else:
        f_stat = _half_up_long(
            (float(ssb) / (k - 1)) / (float(ssw) / (n_tot - k)) * 1_000_000
        ) / 1e6

    got = {
        r.o_orderpriority: (
            r.n_orders, r.mean_dollar, r.ssb_unit, r.ssw_unit,
            r.df_between, r.df_within, r.f_stat,
        )
        for r in q_anova_oneway(spark, str(tmp)).collect()
    }
    for g, (n, s, _) in stats.items():
        rn, rmean, rssb, rssw, rdfb, rdfw, rf = got[g]
        assert rn == n
        # fp_ratio half-up mean at 6 dp
        units = (2 * s * 1_000_000 + n) // (2 * n)
        assert rmean == units / 1e6
        assert (rssb, rssw, rdfb, rdfw, rf) == (
            ssb, ssw, k - 1, n_tot - k, f_stat
        )
    assert set(got) == set(stats)


_mw_orders = st.lists(
    st.tuples(
        st.booleans(),
        st.sampled_from([10.0, 20.0, 20.0, 30.0, 9_999.99, 10_000.0, 45.5]),
    ),
    min_size=1,
    max_size=25,
)


@given(orders=_mw_orders)
@slow_ok
def test_rank_mannwhitney_matches_python_on_any_table(
    spark, orders, tmp_path_factory
):
    """The two-phase rank-sum U equals the O(n^2) pair-counting
    definition for ARBITRARY tables — heavy ties, bucket-boundary
    prices, and one-sided designs (empty group -> NULL AUC)."""
    from data_ingestion_s3_to_parquet_spark.operators.relational15 import (
        q_rank_mannwhitney,
    )

    tmp = tmp_path_factory.mktemp("mw")
    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, "O", p, base, "1-URGENT" if urgent else "5-LOW")
        for i, (urgent, p) in enumerate(orders)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))

    us = [p for urgent, p in orders if urgent]
    os_ = [p for urgent, p in orders if not urgent]
    u2 = sum(
        2 * (a > b) + (a == b) for a in us for b in os_
    )
    n1, n2 = len(us), len(os_)
    if n1 == 0 or n2 == 0:
        auc = None
    else:
        auc = _half_up_long((1_000_000.0 * u2) / (2.0 * n1 * n2))

    r, = q_rank_mannwhitney(spark, str(tmp)).collect()
    assert (r.n_urgent, r.n_other, r.u_x2, r.auc_micro) == (n1, n2, u2, auc)


_qw_orders = st.lists(
    st.tuples(
        st.sampled_from([10.0, 20.0, 20.0, 9_999.99, 10_000.0, 45.5, 77.0]),
        st.integers(1, 3),
    ),
    min_size=1,
    max_size=20,
)


@given(orders=_qw_orders)
@slow_ok
def test_quantile_weighted_matches_python_on_any_table(
    spark, orders, tmp_path_factory
):
    """The two-phase weighted selection equals a Python replay of the
    crossing rule (smallest v with 100*cumw(<=v) >= pct*W) for
    ARBITRARY weighted tables — duplicate prices merge their weights,
    bucket-boundary prices included."""
    import datetime as _dtm

    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        QW_PERCENTS,
        q_quantile_weighted,
    )

    tmp = tmp_path_factory.mktemp("qw")
    base = _dt.datetime(2024, 1, 1)
    orows, lrows, lk = [], [], 0
    for i, (p, w) in enumerate(orders):
        orows.append((i, 1, "O", p, base, "p"))
        for _ in range(w):
            lk += 1
            lrows.append((i, lk))
    spark.createDataFrame(
        orows, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))
    spark.createDataFrame(
        lrows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp / "lineitem.parquet"))

    from collections import defaultdict

    pv = defaultdict(int)
    for p, w in orders:
        pv[p] += w
    wt = sum(pv.values())
    expected = {}
    for pct in QW_PERCENTS:
        cum = 0
        for v in sorted(pv):
            prev = cum
            cum += pv[v]
            if 100 * cum >= pct * wt and 100 * prev < pct * wt:
                expected[pct] = (wt, v, cum)
                break

    got = {
        r.pct: (r.w_total, r.cutoff_price, r.cumw_at_cutoff)
        for r in q_quantile_weighted(spark, str(tmp)).collect()
    }
    assert got == expected


_gini_docs = st.lists(
    st.tuples(st.sampled_from(["A", "B"]), st.integers(0, 20)),
    min_size=1,
    max_size=25,
)


@given(docs=_gini_docs)
@slow_ok
def test_gini_concentration_matches_python_on_any_corpus(
    spark, docs, tmp_path_factory
):
    """The per-value prefix-sum identity equals the O(n^2) pairwise
    |difference| definition for ARBITRARY corpora — zero-length docs,
    all-equal groups (G=0), and all-zero groups (NULL)."""
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_gini_concentration,
    )

    tmp = tmp_path_factory.mktemp("gini")
    rows = [
        (i, "x", "en", src, v) for i, (src, v) in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    from collections import defaultdict

    per = defaultdict(list)
    for src, v in docs:
        per[src].append(v)
    expected = {}
    for src, vs in per.items():
        n, s = len(vs), sum(vs)
        delta = sum(abs(a - b) for a in vs for b in vs)
        gini = (
            None
            if s == 0
            else _half_up_long((1_000_000.0 * delta) / (2.0 * n * s))
        )
        gap = _half_up_long((1_000_000.0 * delta) / (float(n) * n))
        expected[src] = (n, s, delta, gini, gap)

    got = {
        r.source: (r.n_docs, r.total_chars, r.delta, r.gini_micro,
                   r.mean_gap_micro)
        for r in q_gini_concentration(spark, str(tmp)).collect()
    }
    assert got == expected


_cont_words = st.sampled_from(["a", "b", "c", "d", "e", "f"])
_cont_docs = st.lists(
    st.lists(_cont_words, min_size=0, max_size=9),
    min_size=1,
    max_size=8,
)


@given(docs=_cont_docs)
@slow_ok
def test_dedup_containment_matches_python_on_any_corpus(
    spark, docs, tmp_path_factory
):
    """The prefix-filtered containment join equals the O(n^2)
    set-containment definition for ARBITRARY corpora — shingle-free
    short docs, identical docs (tie-break), and partial overlaps."""
    from data_ingestion_s3_to_parquet_spark.operators.dedup import (
        CONTAIN_T_DEN,
        CONTAIN_T_NUM,
        q_dedup_containment,
    )

    tmp = tmp_path_factory.mktemp("cont")
    rows = [
        (i, " ".join(words), "en", "s", len(" ".join(words)))
        for i, words in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    sets = {
        i: {
            tuple(words[j:j + 3]) for j in range(len(words) - 2)
        }
        for i, words in enumerate(docs)
    }
    expected = {}
    for ia, sa in sets.items():
        for ib, sb in sets.items():
            if not sa or not sb:
                continue
            if not (len(sa) < len(sb) or (len(sa) == len(sb) and ia < ib)):
                continue
            inter = len(sa & sb)
            if CONTAIN_T_DEN * inter >= CONTAIN_T_NUM * len(sa):
                expected[(ia, ib)] = (len(sa), len(sb), inter)

    got = {
        (r.doc_a, r.doc_b): (r.na, r.nb, r.inter)
        for r in q_dedup_containment(spark, str(tmp)).collect()
    }
    assert got == expected


_kap_docs = st.lists(
    st.tuples(
        st.sampled_from(["x", "y"]),
        st.integers(250, 350),   # chars straddling the 300 gate
        st.integers(45, 55),     # words straddling the 50 gate
    ),
    min_size=1,
    max_size=25,
)


@given(docs=_kap_docs)
@slow_ok
def test_eval_cohen_kappa_matches_python_on_any_corpus(
    spark, docs, tmp_path_factory
):
    """The contingency + kappa closed form equals a Python replay for
    ARBITRARY corpora — including degenerate designs where one or
    both raters are constant (pe = 1 -> NULL)."""
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        KAPPA_CHAR_MIN,
        KAPPA_WORD_MIN,
        q_eval_cohen_kappa,
    )

    tmp = tmp_path_factory.mktemp("kappa")
    rows = [
        (i, " ".join(["w"] * words), lang, "s", chars)
        for i, (lang, chars, words) in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    from collections import defaultdict

    per = defaultdict(lambda: [0, 0, 0, 0])
    for lang, chars, words in docs:
        a, b = chars >= KAPPA_CHAR_MIN, words >= KAPPA_WORD_MIN
        per[lang][(0 if a else 2) + (0 if b else 1)] += 1
    expected = {}
    for lang, (n11, n10, n01, n00) in per.items():
        n = n11 + n10 + n01 + n00
        agree = n11 + n00
        pe = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        po = _half_up_long((1_000_000.0 * agree) / n)
        kap = (
            None
            if n * n - pe == 0
            else _half_up_long(
                (1_000_000.0 * (n * agree - pe)) / (n * n - pe)
            )
        )
        expected[lang] = (n, n11, n10, n01, n00, po, kap)

    got = {
        r.lang: (r.n_docs, r.n11, r.n10, r.n01, r.n00, r.po_micro,
                 r.kappa_micro)
        for r in q_eval_cohen_kappa(spark, str(tmp)).collect()
    }
    assert got == expected


_tc_orders = st.lists(
    st.tuples(
        st.integers(1, 3),
        st.sampled_from(["1-URGENT", "2-HIGH", "5-LOW"]),
    ),
    min_size=1,
    max_size=24,
)


@given(orders=_tc_orders)
@slow_ok
def test_privacy_tcloseness_matches_python_on_any_table(
    spark, orders, tmp_path_factory
):
    """The integer-numerator variational distance (absent values
    included) equals a Python replay for ARBITRARY released views —
    single-value classes, classes matching the global exactly (d=0),
    and every band boundary."""
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        q_privacy_tcloseness,
    )

    tmp = tmp_path_factory.mktemp("tclose")
    cust = [(c, f"c{c}", c, 0.0, "S") for c in (1, 2, 3)]
    spark.createDataFrame(
        cust, "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(str(tmp / "customer.parquet"))
    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, c, "O", 1.0, base, v) for i, (c, v) in enumerate(orders)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    ).write.mode("overwrite").parquet(str(tmp / "orders.parquet"))

    from collections import Counter, defaultdict

    per = defaultdict(Counter)
    glob = Counter()
    for c, v in orders:
        per[c][v] += 1
        glob[v] += 1
    nt = sum(glob.values())
    bands = defaultdict(lambda: [0, 0, 0, False])
    for c, cnt in per.items():
        nc = sum(cnt.values())
        d_num = sum(
            abs(cnt.get(v, 0) * nt - nv * nc) for v, nv in glob.items()
        )
        if 5 * d_num <= nc * nt:
            band = "t<=0.10"
        elif 5 * d_num <= 2 * nc * nt:
            band = "t<=0.20"
        elif 10 * d_num <= 7 * nc * nt:
            band = "t<=0.35"
        else:
            band = "t>0.35"
        micro = _half_up_long(
            (1_000_000.0 * d_num) / ((2.0 * nc) * nt)
        )
        b = bands[band]
        b[0] += 1
        b[1] += nc
        b[2] = max(b[2], micro)
        b[3] = b[3] or (10 * d_num > 7 * nc * nt)
    expected = {k: tuple(v) for k, v in bands.items()}

    got = {
        r.t_band: (r.n_classes, r.n_rows, r.worst_t_micro, r.violates_t)
        for r in q_privacy_tcloseness(spark, str(tmp)).collect()
    }
    assert got == expected


_fleiss_docs = st.lists(
    st.tuples(
        st.sampled_from(["x", "y"]),
        st.integers(250, 350),   # chars straddling the 300 gate
        st.integers(45, 55),     # total words straddling the 50 gate
        st.integers(0, 10),      # distinct words = tw - rep (TTR knob)
    ),
    min_size=1,
    max_size=20,
)


@given(docs=_fleiss_docs)
@slow_ok
def test_eval_fleiss_kappa_matches_python_on_any_corpus(
    spark, docs, tmp_path_factory
):
    """The exact-integer Fleiss closed form equals a Python replay for
    ARBITRARY panels — unanimous groups (pe=1 -> NULL), 2-1 splits,
    and TTR-boundary texts."""
    from data_ingestion_s3_to_parquet_spark.operators.relational16 import (
        FLEISS_TTR_DEN,
        FLEISS_TTR_NUM,
        KAPPA_CHAR_MIN,
        KAPPA_WORD_MIN,
        q_eval_fleiss_kappa,
    )

    tmp = tmp_path_factory.mktemp("fleiss")
    rows, meta = [], []
    for i, (lang, chars, tw, rep) in enumerate(docs):
        dw = max(1, tw - rep)
        words = [f"w{j}" for j in range(dw)] + ["w0"] * (tw - dw)
        rows.append((i, " ".join(words), lang, "s", chars))
        meta.append((lang, chars, tw, dw))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    from collections import defaultdict

    per = defaultdict(list)
    for lang, chars, tw, dw in meta:
        a = chars >= KAPPA_CHAR_MIN
        b = tw >= KAPPA_WORD_MIN
        c = FLEISS_TTR_DEN * dw >= FLEISS_TTR_NUM * tw
        per[lang].append(int(a) + int(b) + int(c))
    expected = {}
    for lang, k1s in per.items():
        n = len(k1s)
        t = sum(k1s)
        s = sum(k * k + (3 - k) * (3 - k) for k in k1s)
        po = _half_up_long((1_000_000.0 * (s - 3 * n)) / (6.0 * n))
        pe = t * t + (3 * n - t) * (3 * n - t)
        den = 18 * n * n - 2 * pe
        kap = (
            None
            if den == 0
            else _half_up_long(
                (1_000_000.0 * (3 * n * (s - 3 * n) - 2 * pe)) / float(den)
            )
        )
        expected[lang] = (n, t, s, po, kap)

    got = {
        r.lang: (r.n_docs, r.t_keep, r.s_sum, r.po_micro, r.kappa_micro)
        for r in q_eval_fleiss_kappa(spark, str(tmp)).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# round-12 closed-form collapses: the engine lanes implement these
# identities (bound to the engines by the textbook-recompute pytests
# in test_operators.py); these properties bind the identities
# themselves to the brute-force definitions on arbitrary inputs.

_grades = st.integers(0, 3)


@given(
    pairs=st.lists(st.tuples(_grades, _grades), min_size=1, max_size=40)
)
@settings(max_examples=200, deadline=None)
def test_qwk_marginal_collapse_identity(pairs):
    """N·Σa² − 2·Σa·Σb + N·Σb² == Σ_ij r_i·c_j·(i−j)² — the
    sufficient-statistic collapse eval_qwk's expected term relies on
    (Cohen 1968 quadratic weights against the marginal-product
    chance model)."""
    n = len(pairs)
    sa = sum(a for a, _ in pairs)
    sb = sum(b for _, b in pairs)
    saa = sum(a * a for a, _ in pairs)
    sbb = sum(b * b for _, b in pairs)
    rm = [sum(1 for a, _ in pairs if a == i) for i in range(4)]
    cm = [sum(1 for _, b in pairs if b == j) for j in range(4)]
    brute = sum(
        rm[i] * cm[j] * (i - j) ** 2 for i in range(4) for j in range(4)
    )
    assert n * saa - 2 * sa * sb + n * sbb == brute


@given(
    units=st.lists(
        st.tuples(_grades, _grades, st.one_of(st.none(), _grades)),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_kripp_ordinal_collapse_identities(units):
    """Per-unit: Σ_{i≠j}(v_i−v_j)²/(m−1) == 2(2s2−s1²) [m=2] or
    (3s2−s1²) [m=3]; globally: Σ_{c,k} n_c·n_k·(c−k)² == 2(n·S2−S1²)
    — the two collapses eval_kripp_alpha_ordinal is built on."""
    import itertools

    vals = []
    for a, b, c in units:
        rs = [a, b] + ([] if c is None else [c])
        m = len(rs)
        s1, s2 = sum(rs), sum(v * v for v in rs)
        brute = sum(
            (p - q) ** 2 for p, q in itertools.permutations(rs, 2)
        )
        cleared = 2 * (2 * s2 - s1 * s1) if m == 2 else 3 * s2 - s1 * s1
        assert brute == cleared * (m - 1)
        vals.extend(rs)
    n, S1, S2 = len(vals), sum(vals), sum(v * v for v in vals)
    brute_e = sum((p - q) ** 2 for p in vals for q in vals)
    assert brute_e == 2 * (n * S2 - S1 * S1)


@given(
    ts=st.lists(st.integers(0, 10**9), min_size=2, max_size=40),
    seed=st.integers(0, 2**16),
)
@settings(max_examples=200, deadline=None)
def test_interarrival_suffstats_match_sorted_gap_definition(ts, seed):
    """V = n·Σd² − (Σd)² over consecutive sorted gaps equals n²·var
    of the gap multiset; Σd telescopes to max−min; and any
    permutation of the input (tie order included) yields the same
    gap multiset — the invariances event_interarrival's window
    formulation relies on."""
    import random

    s = sorted(ts)
    gaps = [b - a for a, b in zip(s, s[1:])]
    n, total = len(gaps), sum(gaps)
    assert total == max(ts) - min(ts)  # telescoping
    sq = sum(d * d for d in gaps)
    v = n * sq - total * total
    # population variance identity (integer-exact): V = n²·σ²
    mean_num = total  # mean = total/n
    var_num = sum((n * d - mean_num) ** 2 for d in gaps)  # n²·Σ(d−μ)²
    assert n * v == var_num  # n·(nΣd²−(Σd)²) == n²Σ(d−μ)²·... cleared
    rng = random.Random(seed)
    shuffled = ts[:]
    rng.shuffle(shuffled)
    s2 = sorted(shuffled)
    assert [b - a for a, b in zip(s2, s2[1:])] == gaps


@given(
    words=st.lists(st.integers(0, 5), min_size=2, max_size=50),
)
@settings(max_examples=200, deadline=None)
def test_simpson_rate_is_pair_probability(words):
    """(S2 − N)/(N(N−1)) == P(two random distinct positions carry the
    same word) by brute-force pair enumeration — text_yule_k's
    unbiased repeat rate."""
    from collections import Counter

    n = len(words)
    c = Counter(words)
    s2 = sum(f * f for f in c.values())
    same = sum(
        1
        for i in range(n)
        for j in range(n)
        if i != j and words[i] == words[j]
    )
    assert s2 - n == same  # ordered-pair identity


@given(
    toks=st.lists(st.integers(0, 4), min_size=2, max_size=40),
    w=st.integers(2, 6),
)
@settings(max_examples=200, deadline=None)
def test_mattr_interval_identity(toks, w):
    """Σ_p max(0, min(p, n−W+1) − max(p−W+1, prev+1) + 1) ==
    Σ_windows |distinct(window)| — the closed-form interval trick
    text_mattr's single lag window relies on (each token counted in
    exactly the windows where it is first-in-window)."""
    n = len(toks)
    if n < w:
        return
    brute = sum(len(set(toks[s:s + w])) for s in range(n - w + 1))
    prev: dict = {}
    total = 0
    for p1, t in enumerate(toks, start=1):
        pr = prev.get(t, 0)
        total += max(0, min(p1, n - w + 1) - max(p1 - w + 1, pr + 1) + 1)
        prev[t] = p1
    assert total == brute
