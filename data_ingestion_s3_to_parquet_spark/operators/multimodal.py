"""Multimodal / nested-column operators (SURVEY.md §2B).

Fixture-backed oracle queries:

- ``multimodal_cols``    array-column handling over embeddings:
                         size / element_at / transform / L2 norm
- ``array_map_json``     JSON extraction over events.props + real
                         map<string,int> plumbing (former map_funcs
                         entry folded in)
- ``udf_scalar``         the vetted pandas-UDF example (Arrow-batched
                         line-charge computation; SQL-re-expressible so
                         it carries a full oracle)

(The former multimodal_binary entry — byte length + sha256 over an
opaque blob — now lives in textstats.q_doc_fingerprint.)

Plus the image/audio/video plumbing: binary payload + typed metadata →
``mapInPandas`` byte features (:func:`media_features`) and per-payload
operators that decode, probe, frame-sample, resize, hash and scrub real
media with the from-spec codecs in ``functions/``, no codec library:
24-bit BMP, 8-bit PNG, baseline JPEG, GIF87a/89a (multi-frame),
baseline TIFF, QOI and MJPEG AVI for pixels; PCM, G.711 and IMA ADPCM
WAV, AIFF and Sun AU for samples; header-only probes for MP4, MP3,
WebP, WebM, FLAC and Ogg. ``functions.phash.sniff`` names a payload's
format from its leading bytes, and :func:`_per_payload` runs each
operator's row function with per-row error capture. Formats that need
a real codec library (H.264, AAC, ...) stop at :func:`_decode_stub`.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.adpcm import (
    WAVE_FORMAT_IMA_ADPCM,
    adpcm_decode,
    adpcm_decode_stereo,
    adpcm_n_samples,
)
from ..functions.aiff import aiff_samples, probe_aiff
from ..functions.au import au_samples, probe_au
from ..functions.avi import iter_avi_frames, probe_avi
from ..functions.ebml import probe_webm
from ..functions.exif import _iter_jpeg_segments, probe_exif, scrub_gps
from ..functions.flac import probe_flac
from ..functions.g711 import (
    WAVE_FORMAT_ALAW,
    WAVE_FORMAT_MULAW,
    alaw_decode,
    parse_wav_fmt,
    ulaw_decode,
)
from ..functions.gif import decode_gif, probe_gif
from ..functions.hashing import hamming64
from ..functions.jpeg import decode_jpeg
from ..functions.mp3 import probe_mp3
from ..functions.mp4 import probe_mp4
from ..functions.ogg import probe_ogg
from ..functions.phash import (
    IMAGE_PIXELS,
    box_resize,
    build_test_bmp,
    dhash64,
    pixels_of,
    seeded_test_image,
    sniff,
)
from ..functions.qoi import probe_qoi
from ..functions.tiff import probe_tiff
from ..functions.vectors import dot
from ..functions.webp import probe_webp
from ..plans.spec import Query
from ..session import tune
from ..sources.catalog import load_table, spread


def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested array<float> column ops, all JVM-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        "label",
        F.size(e).alias("dim"),
        F.round(F.element_at(e, 1).cast("double"), 6).alias("first_val"),
        F.round(
            F.element_at(F.transform(e, lambda x: x.cast("double") * 2.0), 2), 6
        ).alias("scaled_second"),
        F.round(F.sqrt(dot(e, e)), 6).alias("l2_norm"),
    )


SQL_MULTIMODAL_COLS = """
SELECT vec_id, label,
       CAST(len(embedding) AS INT) AS dim,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
       ROUND(list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)[2], 6) AS scaled_second,
       ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
FROM embeddings
"""


def q_array_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON + map plumbing over events.props (a JSON string column):
    path extraction via get_json_object, and — former map_funcs entry —
    parsing into a real ``map<string,int>`` for map_keys / element_at /
    size."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    m = F.from_json(F.col("props"), "map<string,int>")
    return ev.select(
        "event_id",
        "event_type",
        k.alias("prop_k"),
        (k % 10).alias("k_mod10"),
        F.when(k >= 50, F.lit("hi")).otherwise(F.lit("lo")).alias("k_band"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
        F.size(m).alias("n_keys"),
        F.element_at(m, "k").alias("k_val"),
    )


SQL_ARRAY_MAP_JSON = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
       CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod10,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50
            THEN 'hi' ELSE 'lo' END AS k_band,
       json_keys(props)[1] AS first_key,
       CAST(len(json_keys(props)) AS INT) AS n_keys,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_val
FROM events
"""


@pandas_udf(DoubleType())
def _charge_udf(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    # identical IEEE op order to the SQL mirror: p*(1-d)*(1+t)
    return price * (1 - disc) * (1 + tax)


def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vetted scalar pandas UDF (Arrow-batched, vectorized numpy ops
    — never a row-at-a-time Python UDF). Kept SQL-re-expressible so the
    Arrow round-trip itself is oracle-verified bitwise."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _charge_udf(
            F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
        ).alias("charge"),
    )


SQL_UDF_SCALAR = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Opaque-media plumbing (image/audio/video as binary + typed metadata)
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), False),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),  # images/video
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),  # audio
    ]
)

MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("byte_entropy", StringType(), False),  # hex-rounded, stable
        StructField("header_hex", StringType(), False),
    ]
)


def _decode_stub(kind: str, payload: bytes) -> None:
    """The seam for formats that need a codec library (H.264, AAC,
    WebP, ...): pyav / torchaudio would decode them here, but neither
    is in this environment, so it stays deliberately unimplemented.
    Every format decodable without one has a from-spec decoder behind
    :func:`decode_media`."""
    raise NotImplementedError(
        f"media decode for kind={kind!r} requires codec libraries "
        "(pyav/torchaudio) not present in this environment"
    )


def wav_samples(payload: bytes) -> tuple[int, int, np.ndarray]:
    """(sample_rate, n_channels, int64 linear samples) of a WAV
    payload, across every codec the engine decodes from spec: PCM
    (stdlib ``wave``), G.711 µ-law/A-law (wFormatTag 7/6 — the
    telephony class stdlib rejects, ``functions/g711.py``), and
    IMA/DVI ADPCM (wFormatTag 17, ``functions/adpcm.py``). Shared by
    :func:`decode_media`'s whole-clip features and
    :func:`media_audio_frames`'s frame-level ones."""
    fmt = parse_wav_fmt(payload)
    if fmt["format_tag"] in (WAVE_FORMAT_MULAW, WAVE_FORMAT_ALAW):
        dec = (
            ulaw_decode
            if fmt["format_tag"] == WAVE_FORMAT_MULAW
            else alaw_decode
        )
        return fmt["sample_rate"], fmt["n_channels"], dec(
            fmt["data"]
        ).astype(np.int64)
    if fmt["format_tag"] == WAVE_FORMAT_IMA_ADPCM:  # mono and stereo
        if "block_align" not in fmt:
            raise ValueError("IMA ADPCM fmt chunk without block align")
        if fmt["n_channels"] == 1:
            arr = adpcm_decode(fmt["data"], fmt["block_align"])
        elif fmt["n_channels"] == 2:
            arr = adpcm_decode_stereo(fmt["data"], fmt["block_align"])
        else:
            raise NotImplementedError(
                f"{fmt['n_channels']}-channel IMA ADPCM"
            )
        return fmt["sample_rate"], fmt["n_channels"], arr.astype(np.int64)
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 2:
        arr = np.frombuffer(frames, dtype="<i2").astype(np.int64)
    elif width == 1:  # unsigned 8-bit PCM, centered at 128
        arr = np.frombuffer(frames, dtype=np.uint8).astype(np.int64) - 128
    else:
        raise NotImplementedError(f"{8 * width}-bit PCM not supported")
    return rate, n_ch, arr


_AUDIO_SAMPLES = {"wav": wav_samples, "aiff": aiff_samples, "au": au_samples}


def _image_features(px: np.ndarray, n_frames: int | None = None) -> dict:
    """Dims and exact int64 per-channel sums of (h, w, 3) RGB pixels,
    plus ``n_frames`` for an animation or video. Integer features keep
    results bitwise-stable across layouts and reruns."""
    s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
    out = {
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "sum_r": int(s[0]),
        "sum_g": int(s[1]),
        "sum_b": int(s[2]),
    }
    if n_frames is not None:
        out["n_frames"] = n_frames
    return out


def _audio_features(rate: int, n_ch: int, arr: np.ndarray) -> dict:
    """Sample counts and the exact int64 energy Σ sample² of linear
    samples (interleaved channels count as samples)."""
    return {
        "sample_rate": rate,
        "n_channels": n_ch,
        "n_samples": int(arr.size),
        "energy": int((arr * arr).sum()),
    }


def decode_media(kind: str, payload: bytes) -> dict:
    """Decode a payload by its :func:`sniff` format, not the claimed
    ``kind`` (corpora lie about mime types). Images give
    :func:`_image_features`; GIF and MJPEG AVI give them for the first
    frame plus the frame count (AVI's from the container header, so
    only one frame is decoded); audio gives :func:`_audio_features`.
    Anything else raises at :func:`_decode_stub`."""
    fmt = sniff(payload)
    if fmt == "gif":
        frames = decode_gif(payload)["frames"]
        return _image_features(frames[0], len(frames))
    if fmt == "avi":
        n_frames = probe_avi(payload)["n_frames"]
        first = next(iter_avi_frames(payload), None)
        if first is None:
            raise ValueError("AVI with no video frame chunks")
        return _image_features(decode_jpeg(first), int(n_frames))
    if fmt in IMAGE_PIXELS:
        return _image_features(IMAGE_PIXELS[fmt](payload))
    if fmt in _AUDIO_SAMPLES:
        return _audio_features(*_AUDIO_SAMPLES[fmt](payload))
    _decode_stub(kind, payload)


def _per_payload(
    media: DataFrame,
    schema: StructType,
    rows_of: Callable[[bytes, dict], Iterable[dict]],
    poison: dict | None = None,
) -> DataFrame:
    """Run ``rows_of(payload, key)`` on every payload executor-side
    (``mapInPandas`` over Arrow batches, no pickling) and emit the rows
    it returns as ``ok=true`` rows of ``schema``. ``key`` holds the
    row's ``media_id`` and, when ``schema`` has it, ``kind``; both are
    copied to every output row.

    A payload whose row function raises costs exactly one poison row:
    ``ok=false``, ``err="<Type>: <msg>"``, every other column None or
    its ``poison`` value. At 100 TB a corpus always holds undecodable
    members, and one must cost a row, not a stage retry storm.
    """
    tune(media.sparkSession)  # ships this package to the executors
    names = schema.fieldNames()
    keys = [c for c in ("media_id", "kind") if c in names]
    bad = {**dict.fromkeys(names), **(poison or {}), "ok": False}

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for *vals, payload in zip(*(pdf[c] for c in keys), pdf["payload"]):
                key = dict(zip(keys, vals))
                try:
                    rows = list(rows_of(bytes(payload), key))
                except Exception as e:  # undecodable member ≠ failed job
                    out.append({**bad, **key, "err": f"{type(e).__name__}: {e}"})
                    continue
                out += [{**dict.fromkeys(names), **r, **key, "ok": True} for r in rows]
            # object columns keep int64 values exact beside None; pandas
            # would widen such a column to float64 and round a 64-bit hash
            yield pd.DataFrame(out, columns=names, dtype=object)

    return media.select(*keys, "payload").mapInPandas(_batch, schema)


MEDIA_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("energy", LongType(), True),
        StructField("n_frames", IntegerType(), True),  # animations (GIF)
    ]
)


def media_decode(media: DataFrame) -> DataFrame:
    """Distributed REAL media decoding over binary payloads: one
    :func:`decode_media` row per payload, same Arrow plumbing as
    :func:`media_features`. Rows whose format needs an absent codec
    come back ``ok=false`` with the error message (:func:`_per_payload`).
    """
    return _per_payload(
        media, MEDIA_DECODE_SCHEMA, lambda p, key: [decode_media(key["kind"], p)]
    )


def media_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Distributed media feature extraction over binary payloads.

    ``mapInPandas``: each Arrow batch of (media_id, kind, payload, …)
    rows yields one feature frame — the exact shape a real
    decode/resize/frame-sample stage has. Features computed here are
    deterministic byte-level stand-ins (length, entropy, header bytes);
    swapping in a real codec touches only ``_features_batch``.

    Scale: payloads stay in Arrow buffers end-to-end (no pickling);
    partition count should track payload bytes, not row count — resize
    upstream with ``spark.sql.files.maxPartitionBytes`` or
    ``repartition`` before calling.
    """
    tune(media.sparkSession)  # ships this package to the executors

    def _features_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def _entropy(payload: bytes) -> float:
            # numpy per payload: O(n) C-speed histogram, no Python
            # per-byte loop (the byte loop was ~100x slower).
            if not payload:
                return 0.0
            arr = np.frombuffer(payload, dtype=np.uint8)
            counts = np.bincount(arr, minlength=256)
            p = counts[counts > 0] / arr.size
            return float(-(p * np.log2(p)).sum())

        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "n_bytes": np.fromiter(
                        (len(p) for p in payloads), dtype=np.int64, count=len(payloads)
                    ),
                    "byte_entropy": [f"{_entropy(p):.6f}" for p in payloads],
                    "header_hex": [p[:8].hex() for p in payloads],
                },
                columns=[f.name for f in MEDIA_FEATURES_SCHEMA],
            )

    cols = [f.name for f in MEDIA_SCHEMA.fields[:3]]
    return media.select(*cols).mapInPandas(_features_batch, MEDIA_FEATURES_SCHEMA)


FRAME_CHARS = 64
FRAME_STRIDE = 4


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling over an opaque payload: split each
    payload into fixed-size frames and keep every ``FRAME_STRIDE``-th —
    the video-keyframe-sampling access pattern (decode stays stubbed,
    :func:`_decode_stub`; document text stands in for payload bytes so
    the slicing arithmetic itself is oracle-checkable).

    Shape for scale: frame indices come from ``sequence`` + ``explode``
    — generated per row, NEVER a join against an index table — so the
    operator is a single pass whose output is ~1/stride of the frame
    count. Per-frame md5 gives a content address for downstream exact
    dedup of sampled frames.
    """
    d = load_table(spark, sf_dir, "documents")
    n_frames = F.greatest(
        F.ceil(F.length("text") / F.lit(FRAME_CHARS)).cast("int"), F.lit(1)
    )
    fr = d.select("doc_id", "text", n_frames.alias("n_frames")).select(
        "doc_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(1), F.col("n_frames"), F.lit(FRAME_STRIDE))
        ).alias("frame_idx"),
        "text",
    )
    frame = F.substring(
        F.col("text"), (F.col("frame_idx") - 1) * FRAME_CHARS + 1, F.lit(FRAME_CHARS)
    )
    return fr.select(
        "doc_id",
        "frame_idx",
        "n_frames",
        F.length(frame).alias("frame_len"),
        F.md5(frame).alias("frame_md5"),
    )


SQL_MEDIA_FRAME_SAMPLE = f"""
WITH b AS (
  SELECT doc_id, text,
         greatest(CAST(ceil(len(text) / {FRAME_CHARS}.0) AS INT), 1) AS n_frames
  FROM documents
),
f AS (
  SELECT doc_id, n_frames,
         unnest(generate_series(1, n_frames, {FRAME_STRIDE})) AS frame_idx, text
  FROM b
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, n_frames,
       CAST(length(substr(text, (frame_idx - 1) * {FRAME_CHARS} + 1,
                          {FRAME_CHARS})) AS INT) AS frame_len,
       md5(substr(text, (frame_idx - 1) * {FRAME_CHARS} + 1, {FRAME_CHARS})) AS frame_md5
FROM f
"""


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("sum_r", LongType(), False),
        StructField("sum_g", LongType(), False),
        StructField("sum_b", LongType(), False),
        StructField("frame_md5", StringType(), False),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
    ]
)


def media_sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """REAL distributed frame sampling over animated payloads: decode
    each GIF (``functions/gif.py``) or MJPEG AVI (``functions/avi.py``
    container walk + the from-spec JPEG codec per '00dc' chunk, a true
    video format on a real pixel path), keep every ``every_k``-th
    frame, and emit one row per kept frame with exact integer channel
    sums and a content md5 — the keyframe-extraction stage of a
    video/animation ingest pipeline, running on actual decoded pixels
    (``q_media_frame_sample`` is the oracle-graded twin over
    deterministic text stand-ins; this is the binary lane).

    Scale shape: one ``mapInPandas`` pass, payload bytes stay in Arrow
    buffers, per-payload decode cost parallelizes with the corpus, and
    an undecodable payload yields a single ok=false row with
    ``frame_idx`` -1 and zero sums (the schema's columns are
    non-nullable). Fan-out is frames/``every_k`` rows per payload —
    bounded by the input's own frame count, never corpus-squared.
    """

    def _frames(payload: bytes, _key: dict) -> list[dict]:
        if sniff(payload) == "avi":
            frames = [decode_jpeg(f) for f in iter_avi_frames(payload)]
            if not frames:
                raise ValueError("AVI with no video frame chunks")
        else:  # the GIF decoder rejects anything that is not a GIF
            frames = decode_gif(payload)["frames"]
        return [
            {
                **_image_features(frames[i]),
                "frame_idx": i,
                "frame_md5": hashlib.md5(frames[i].tobytes()).hexdigest(),
            }
            for i in range(0, len(frames), every_k)
        ]

    zero = dict.fromkeys(("width", "height", "sum_r", "sum_g", "sum_b"), 0)
    return _per_payload(
        media,
        FRAME_SAMPLE_SCHEMA,
        _frames,
        poison={**zero, "frame_idx": -1, "frame_md5": ""},
    )


MEDIA_PROBE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
        StructField("container", StringType(), True),
        StructField("duration_sec", DoubleType(), True),
        StructField("n_tracks", IntegerType(), True),
        StructField("video_codec", StringType(), True),
        StructField("audio_codec", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def _header_dims(fmt: str, payload: bytes) -> tuple[int, int]:
    """(width, height) of a still image from its header alone."""
    if fmt == "bmp":
        w, h = struct.unpack_from("<ii", payload, 18)
        return w, abs(h)
    if fmt == "png":
        return struct.unpack_from(">II", payload, 16)
    if fmt == "jpeg":
        for marker, start, _len in _iter_jpeg_segments(payload):
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
                h, w = struct.unpack_from(">HH", payload, start + 5)
                return w, h
        raise ValueError("JPEG without SOF header")
    m = (probe_tiff if fmt == "tiff" else probe_qoi)(payload)
    return m["width"], m["height"]


def _probe_wav(payload: bytes) -> dict:
    """WAV duration and codec from the fmt chunk and data length."""
    fmt = parse_wav_fmt(payload)
    if fmt["format_tag"] in (WAVE_FORMAT_MULAW, WAVE_FORMAT_ALAW):
        # G.711: one byte per sample per channel
        n = len(fmt["data"]) // max(fmt["n_channels"], 1)
        return dict(
            container="wav",
            duration_sec=round(n / fmt["sample_rate"], 3),
            n_tracks=fmt["n_channels"],
            audio_codec=(
                "ulaw" if fmt["format_tag"] == WAVE_FORMAT_MULAW else "alaw"
            ),
        )
    if fmt["format_tag"] == WAVE_FORMAT_IMA_ADPCM:
        if "block_align" not in fmt or fmt["block_align"] < 5:
            raise ValueError("IMA ADPCM fmt chunk without usable block align")
        if fmt["n_channels"] not in (1, 2):
            raise NotImplementedError(f"{fmt['n_channels']}-channel IMA ADPCM")
        # per-channel frame count from block geometry (mono
        # bytes-to-samples or stereo group layout), no decode
        n = adpcm_n_samples(len(fmt["data"]), fmt["block_align"], fmt["n_channels"])
        return dict(
            container="wav",
            duration_sec=round(n / fmt["sample_rate"], 3),
            n_tracks=fmt["n_channels"],
            audio_codec="ima_adpcm",
        )
    with wave.open(io.BytesIO(payload)) as wf:
        return dict(
            container="wav",
            duration_sec=round(wf.getnframes() / wf.getframerate(), 3),
            n_tracks=wf.getnchannels(),
            audio_codec="pcm",
        )


_AUDIO_PROBES = {"aiff": probe_aiff, "au": probe_au, "flac": probe_flac, "ogg": probe_ogg}


def _probe_one(payload: bytes) -> dict:
    """MEDIA_PROBE_SCHEMA columns of one payload from its container
    headers only — dims/duration/codecs WITHOUT pixel or sample work
    (the cheap corpus-filter path; :func:`decode_media` is the
    expensive one)."""
    fmt = sniff(payload)
    if fmt == "mp4":
        meta = probe_mp4(payload)
        vid = next((t for t in meta["tracks"] if t["handler"] == "vide"), None)
        aud = next((t for t in meta["tracks"] if t["handler"] == "soun"), None)
        return dict(
            container=meta["brand"],
            duration_sec=meta["duration_sec"],
            n_tracks=meta["n_tracks"],
            video_codec=vid["codec"] if vid else None,
            audio_codec=aud["codec"] if aud else None,
            width=vid["width"] if vid else None,
            height=vid["height"] if vid else None,
        )
    if fmt == "mp3":
        m = probe_mp3(payload)
        return dict(
            container="mp3", duration_sec=m["duration_sec"], n_tracks=1, audio_codec="mp3"
        )
    if fmt in ("bmp", "png", "jpeg", "tiff", "qoi"):
        w, h = _header_dims(fmt, payload)
        return dict(container=fmt, n_tracks=1, width=w, height=h)
    if fmt == "gif":
        m = probe_gif(payload)
        return dict(
            container="gif",
            duration_sec=m["duration_sec"],
            n_tracks=m["n_frames"],
            width=m["width"],
            height=m["height"],
        )
    if fmt == "avi":
        m = probe_avi(payload)
        return dict(
            container="avi",
            duration_sec=round(
                (m["n_frames"] or 0) * (m["us_per_frame"] or 0) / 1e6, 3
            ),
            n_tracks=m["n_streams"],
            video_codec=m["video_handler"],
            width=m["width"],
            height=m["height"],
        )
    if fmt == "wav":
        return _probe_wav(payload)
    if fmt in _AUDIO_PROBES:  # AIFF/AIFC reports its form as the container
        m = _AUDIO_PROBES[fmt](payload)
        return dict(
            container=m.get("form", fmt).lower(),
            duration_sec=m["duration_sec"],
            n_tracks=m["n_channels"],
            audio_codec=m.get("codec", fmt),
        )
    if fmt == "webp":
        m = probe_webp(payload)
        return dict(
            container="webp",
            n_tracks=1,
            video_codec=m["codec"],
            width=m["width"],
            height=m["height"],
        )
    if fmt == "webm":
        m = probe_webm(payload)
        return dict(
            container=m["doctype"],
            duration_sec=m["duration_sec"],
            n_tracks=m["n_tracks"],
            video_codec=m["video_codec"],
            audio_codec=m["audio_codec"],
            width=m["width"],
            height=m["height"],
        )
    raise ValueError(
        "unrecognized container "
        "(ISO-BMFF/MP3/BMP/PNG/GIF/WAV/AIFF/AU/JPEG/TIFF/QOI/WEBP/"
        "WEBM/FLAC/OGG/AVI)"
    )


def media_probe(media: DataFrame) -> DataFrame:
    """Distributed CONTAINER metadata probe (:func:`_probe_one`) — the
    stage a 100 TB video corpus runs FIRST: duration / resolution /
    codec filters need only box structures, no codec library, so the
    expensive pixel decode (still behind :func:`_decode_stub` for
    H.264/AAC) is reserved for the rows that survive. One row per
    payload; a failing probe is a poison row (:func:`_per_payload`).
    """
    return _per_payload(media, MEDIA_PROBE_SCHEMA, lambda p, _key: [_probe_one(p)])


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("phash", LongType(), True),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
    ]
)

AUDIO_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
        StructField("frame_idx", IntegerType(), True),
        StructField("n_samples", IntegerType(), True),
        StructField("energy", LongType(), True),  # Σ sample² (int64)
        StructField("zero_crossings", IntegerType(), True),
    ]
)


def media_audio_frames(media: DataFrame, frame_len: int = 512) -> DataFrame:
    """Frame-level audio features — the audio half of feature
    extraction next to the image lanes: every decodable WAV payload
    (PCM / G.711 / IMA ADPCM via :func:`wav_samples`) explodes into
    one row per non-overlapping ``frame_len``-sample frame with the
    frame's exact int64 energy and strict-sign zero-crossing count
    (``x[i]·x[i+1] < 0`` — the VAD/silence-detection pair of
    features). The final partial frame is emitted too, so per-frame
    energies sum exactly to :func:`decode_media`'s whole-clip energy —
    a pinned invariant. Undecodable payloads emit ONE poison row
    (frame_idx NULL, :func:`_per_payload`).

    Scale shape: map-only fan-out over Arrow batches (rows out ≈
    seconds of audio × rate / frame_len); no shuffle here — windowed
    aggregations downstream group on (media_id, frame_idx) like any
    fact table.
    """
    if frame_len < 2:
        raise ValueError("frame_len must be >= 2")

    def _frames(payload: bytes, _key: dict) -> list[dict]:
        _, n_ch, arr = wav_samples(payload)
        if n_ch != 1:
            # interleaved multi-channel samples would make the flat
            # zero-crossing scan count L/R sign flips as crossings —
            # refuse rather than emit ok=true garbage (mono baseline)
            raise NotImplementedError(f"{n_ch}-channel WAV frame features")
        # strict sign changes, attributed to the frame of the EARLIER
        # sample (so frame counts sum to the clip's). A decodable clip
        # with ZERO samples has zero frames — it emits no rows.
        flips = (arr[:-1] * arr[1:]) < 0
        rows = []
        for i in range(0, arr.size, frame_len):
            fr = arr[i : i + frame_len]
            zc = flips[i : min(i + frame_len, flips.size)]
            rows.append(
                {
                    "frame_idx": i // frame_len,
                    "n_samples": int(fr.size),
                    "energy": int((fr * fr).sum()),
                    "zero_crossings": int(zc.sum()),
                }
            )
        return rows

    return _per_payload(media, AUDIO_FRAMES_SCHEMA, _frames)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
        StructField("src_w", IntegerType(), True),
        StructField("src_h", IntegerType(), True),
        StructField("out_w", IntegerType(), True),
        StructField("out_h", IntegerType(), True),
        StructField("thumb", BinaryType(), True),  # 24-bit BMP
        StructField("r_sum", LongType(), True),  # exact channel sums
        StructField("g_sum", LongType(), True),  # of the THUMBNAIL
        StructField("b_sum", LongType(), True),
    ]
)


def media_resize(
    media: DataFrame, out_h: int = 8, out_w: int = 8
) -> DataFrame:
    """Thumbnail every decodable image payload to ``out_h``×``out_w``
    — the resize stage of the multimodal pipeline (decode →
    feature-extract → RESIZE → frame-sample, the brief's four image
    verbs). Decode goes through the same from-spec
    BMP/PNG/GIF/JPEG/TIFF/QOI dispatch as the dHash lane
    (:func:`..functions.phash.pixels_of`); the scale-down is the
    exact-integer area mean (:func:`..functions.phash.box_resize`) so
    thumbnail bytes are bitwise-reproducible across executors, runs,
    and source containers (a PNG and a BMP of the same pixels thumb
    identically — pinned in pytest); the re-encode is the 24-bit BMP
    composer. Images already smaller than the target in either
    dimension clamp that dimension (never upscale). One poison row per
    undecodable payload (:func:`_per_payload`).

    Scale shape: map-only over Arrow batches — no shuffle, no state;
    partition sizing follows payload bytes (``spread`` upstream), the
    same rule as ``media_features``.
    """
    if out_h < 1 or out_w < 1:
        # fail fast on the driver — inside the executor try/except an
        # argument typo would poison EVERY row and read as data quality
        raise ValueError(f"target size {out_h}x{out_w} must be >= 1x1")

    def _thumb(payload: bytes, _key: dict) -> list[dict]:
        px = pixels_of(payload)
        h, w = px.shape[:2]
        th, tw = min(out_h, h), min(out_w, w)
        thumb = box_resize(px, th, tw)
        s = thumb.reshape(-1, 3).astype("int64").sum(axis=0)
        return [
            dict(
                src_w=w,
                src_h=h,
                out_w=tw,
                out_h=th,
                thumb=build_test_bmp(thumb),
                r_sum=int(s[0]),
                g_sum=int(s[1]),
                b_sum=int(s[2]),
            )
        ]

    return _per_payload(media, RESIZE_SCHEMA, _thumb)


def media_phash(media: DataFrame) -> DataFrame:
    """64-bit perceptual dHash per media row — decode (from-spec
    BMP/PNG/GIF/JPEG/TIFF/QOI, :func:`..functions.phash.pixels_of`) +
    exact integer difference hash (:func:`..functions.phash.dhash64`),
    executor-side over Arrow batches; one poison row per bad payload
    (:func:`_per_payload`). The image half of near-dup detection:
    downstream, hashes group exactly (re-encodes of the same pixels
    collide bitwise) and band-join for Hamming near-dups with the
    SimHash machinery (``functions.hashing.hamming64``).
    """
    return _per_payload(
        media, PHASH_SCHEMA, lambda p, _key: [{"phash": dhash64(pixels_of(p))}]
    )


PHASH_SEEDS = 50  # distinct base images planted in the fixture query
PHASH_VARIANTS = 3  # near-dup variants per base image
PHASH_HAMMING_T = 6  # near-dup link threshold (cross-seed min ≈ 25)


def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup pipeline end to end, at corpus scale: per
    document, synthesize a deterministic test image (seed = doc_id mod
    ``PHASH_SEEDS``, variant = doc_id mod ``PHASH_VARIANTS`` —
    planting both exact re-encodes and near-duplicates), encode to
    BMP, decode + dHash distributed (:func:`media_phash`), then

    1. EXACT grouping on the hash (``groupBy(phash)`` — re-encoded
       identical pixels collide bitwise), electing a canonical
       min-media_id per group, and
    2. NEAR-dup links between group REPRESENTATIVES via 4x16-bit
       SimHash-style banding + Hamming ≤ ``PHASH_HAMMING_T``.

    Dedup-before-join is the scale-critical order: banding joins run
    over one representative per distinct hash, never over the
    duplicate-inflated corpus (a 10⁶-copy group contributes ONE row,
    not 10¹² pairs). BENCH_ONLY: pixels are not SQL-reachable, so
    accuracy is pinned by the planted-pair pytest (all same-seed
    variant links found, zero cross-seed links at the threshold) and
    pure-Python recompute, the media_decode convention.
    """
    # spread(): the fixture arrives as ONE parquet file = one partition,
    # so the synth+encode+decode+dHash pandas stage — the lane's whole
    # per-image cost — ran as a single serial Python task (measured
    # 1.1 s of a 1.6 s lane wall at sf0.1, r14 stage profile). The
    # round-robin shuffle of bare doc_ids is noise next to 32× decode
    # parallelism; at real scale the media table has many splits and
    # spread() is a no-op (guide §4: distribution is Spark's job, the
    # batch work is the UDF's).
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id"))

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                img = seeded_test_image(
                    int(did) % PHASH_SEEDS, int(did) % PHASH_VARIANTS
                )
                h = dhash64(pixels_of(build_test_bmp(img)))
                out.append({"media_id": did, "phash": h, "ok": True, "err": None})
            yield pd.DataFrame(out, columns=[f.name for f in PHASH_SCHEMA])

    hashed = d.mapInPandas(_synth, PHASH_SCHEMA)
    groups = hashed.groupBy("phash").agg(
        F.count("*").alias("n_media"), F.min("media_id").alias("canon")
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk_idx"),
                F.shiftrightunsigned("phash", 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("blk_val"),
            )
            for i in range(4)
        ]
    )
    blocked = (
        groups.select("phash", "canon", "n_media", F.explode(slices).alias("s"))
        .select("phash", "canon", "n_media", F.col("s.blk_idx"), F.col("s.blk_val"))
        .hint("shuffle_hash")  # explode-derived: never broadcast
    )
    x = blocked.select(
        F.col("phash").alias("ph_a"), F.col("canon").alias("canon_a"),
        F.col("n_media").alias("n_a"), "blk_idx", "blk_val",
    )
    y = blocked.select(
        F.col("phash").alias("ph_b"), F.col("canon").alias("canon_b"),
        F.col("n_media").alias("n_b"), "blk_idx", "blk_val",
    )
    return (
        x.join(y, ["blk_idx", "blk_val"])
        .where(F.col("ph_a") < F.col("ph_b"))
        .select("ph_a", "ph_b", "canon_a", "canon_b", "n_a", "n_b")
        .distinct()
        .withColumn("hamming", hamming64(F.col("ph_a"), F.col("ph_b")))
        .where(F.col("hamming") <= PHASH_HAMMING_T)
        .select("canon_a", "canon_b", "hamming", "n_a", "n_b")
    )


EXIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("has_exif", BooleanType(), True),
        StructField("orientation", IntegerType(), True),
        StructField("taken_at", StringType(), True),
        StructField("make", StringType(), True),
        StructField("model", StringType(), True),
        StructField("has_gps", BooleanType(), True),
        StructField("gps_lat_udeg", LongType(), True),
        StructField("gps_lon_udeg", LongType(), True),
        StructField("scrubbed", BinaryType(), True),
        StructField("ok", BooleanType(), False),
        StructField("err", StringType(), True),
    ]
)


def media_exif(media: DataFrame) -> DataFrame:
    """EXIF probe + GPS scrub per JPEG row, distributed: read
    orientation / timestamp / device / GPS from the APP1 TIFF
    structure (``functions/exif.py``, pure byte math) and return the
    payload REBUILT without location PII (whitelist re-emit — the GPS
    rationals leave the bytes entirely, they are not merely
    unlinked). The image twin of ``pii_redact``: run it before an
    image corpus ships. GPS coordinates surface as exact integer
    micro-degrees (for audit joins/filters); pixels are untouched —
    the entropy-coded stream is copied byte-identical, so downstream
    decode/phash results are unchanged. One row per payload, a poison
    row for a bad one (:func:`_per_payload`).
    """

    def _exif(payload: bytes, _key: dict) -> list[dict]:
        meta = probe_exif(payload)
        return [
            dict(
                has_exif=meta["has_exif"],
                orientation=meta["orientation"],
                taken_at=meta["datetime"],
                make=meta["make"],
                model=meta["model"],
                has_gps=meta["has_gps"],
                gps_lat_udeg=meta["gps_lat_udeg"],
                gps_lon_udeg=meta["gps_lon_udeg"],
                scrubbed=bytearray(scrub_gps(payload)),
            )
        ]

    return _per_payload(media, EXIF_SCHEMA, _exif)


QUERIES: list[Query] = [
    Query("multimodal_cols", q_multimodal_cols, SQL_MULTIMODAL_COLS),
    Query("array_map_json", q_array_map_json, SQL_ARRAY_MAP_JSON),
    Query("udf_scalar", q_udf_scalar, SQL_UDF_SCALAR, bench=True),
    Query("media_frame_sample", q_media_frame_sample, SQL_MEDIA_FRAME_SAMPLE),
    Query("media_phash", q_media_phash, None, bench=True),
]
