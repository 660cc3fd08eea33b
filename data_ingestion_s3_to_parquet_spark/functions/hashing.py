"""Hash-sketch expression builders: MinHash, SimHash, rolling fingerprint.

All sketches are built from ``xxhash64(seed, value)`` — a built-in
Catalyst expression — so signatures are deterministic across runs,
partitionings, and cluster sizes (no Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _q(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def minhash_signature(
    df: DataFrame, id_col: str, shingles_col: str, k: int = 16
) -> DataFrame:
    """MinHash signature per document: for each of ``k`` seeds, the min
    ``xxhash64(seed, shingle)`` over the document's shingle set.

    Implementation: one explode of the shingle array, then a single
    grouped aggregation computing all ``k`` minima at once (one shuffle
    by id, map-side partial mins — scales linearly in total shingle
    count; never k explodes). Each expression is one SQL string (see
    :func:`simhash_signature`).

    Returns ``id_col, sig array<bigint>(k)``.
    """
    exploded = df.selectExpr(_q(id_col), f"explode({_q(shingles_col)}) AS _sh")
    agg = exploded.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64({s}, _sh)) AS _h{s}") for s in range(k)]
    )
    return agg.selectExpr(
        _q(id_col), f"array({', '.join(f'_h{s}' for s in range(k))}) AS sig"
    )


def lsh_bands(
    sig_df: DataFrame, id_col: str, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Split a minhash signature into ``bands`` bands of ``rows_per_band``
    and hash each.

    Returns exploded ``id_col, band_idx int, band_hash bigint`` — a
    candidate-bucket key. Two docs sharing any (band_idx, band_hash)
    bucket are near-dup candidates (standard LSH banding).
    """
    entries = ", ".join(
        f"struct({b} AS band_idx, "
        f"xxhash64({b}, slice(sig, {b * rows_per_band + 1}, {rows_per_band})) AS band_hash)"
        for b in range(bands)
    )
    return sig_df.selectExpr(_q(id_col), f"explode(array({entries})) AS _band").selectExpr(
        _q(id_col), "_band.band_idx", "_band.band_hash"
    )


# Packed-counter layout for simhash_signature: counts for _PACK
# adjacent hash bits share one 64-bit sum at _SLOT-bit slots.
# Capacity per counter is 2^21 - 1 ≈ 2M shingles per document (a
# 2M-word document — far past any post-chunking corpus; the top
# slot's accumulated maximum (2^21-1) << 42 still fits signed int64).
_SIMHASH_PACK = 3
_SIMHASH_SLOT = 21
# Spread multiplier / slot mask: for x holding 3 adjacent bits
# (value 0..7), x * _SPREAD = x + (x << 20) + (x << 40) places bit 0
# at position 0, bit 1 at 21, bit 2 at 42 — the three source ranges
# (0-2, 20-22, 40-42) are disjoint, so the add carries nothing — and
# masking with _SLOTS keeps exactly those three slot positions.
_SIMHASH_SPREAD = 1 + (1 << 20) + (1 << 40)
_SIMHASH_SLOTS = 1 | (1 << _SIMHASH_SLOT) | (1 << (2 * _SIMHASH_SLOT))


def simhash_signature(
    df: DataFrame, id_col: str, shingles_col: str
) -> DataFrame:
    """64-bit SimHash per document: bit j of the output is 1 iff the sum
    over shingles of ±1 (by bit j of xxhash64(shingle)) is positive —
    equivalently, iff ``2 * count(bit j set) > n_shingles``.

    Implementation mirrors :func:`minhash_signature`: one explode, one
    grouped aggregation (map-side combinable, single shuffle by id) —
    NOT a per-row fold, which would re-walk the shingle array 64×. The
    per-bit counts are PACKED: each aggregate sums one long holding
    ``_SIMHASH_PACK`` bit-counters at ``_SIMHASH_SLOT``-bit slots
    (disjoint, so plain integer addition accumulates each counter
    independently), and each input row contributes via ONE
    multiply-spread — ``((h >>> g) & 7) * _SPREAD & _SLOTS`` fans the
    three adjacent hash bits into their slots, keeping the generated
    aggregate to 22 branch-free sums. The unpack + threshold runs on
    the one row per document the aggregation leaves.

    The 22 sums and the 64-term unpack are each passed to the JVM as
    one SQL string: as ``Column`` calls they take about 770 calls, and
    PySpark 4.1 records each call's Python call site at about 10
    gateway round trips, so the build alone would cost ~10,000 py4j
    commands and over a second of driver time, against a few hundred
    commands as SQL. Catalyst plans the same expressions either way.

    Returns ``id_col, sim bigint``.
    """
    ex = df.selectExpr(_q(id_col), f"explode({_q(shingles_col)}) AS _sh").selectExpr(
        _q(id_col), "xxhash64(0, _sh) AS _h"
    )
    groups = range(0, 64, _SIMHASH_PACK)
    packs = [
        F.expr(
            f"sum(({f'shiftrightunsigned(_h, {g})' if g else '_h'} & 7L)"
            f" * {_SIMHASH_SPREAD}L & {_SIMHASH_SLOTS}L) AS _p{g}"
        )
        for g in groups
    ]
    agg = ex.groupBy(id_col).agg(F.expr("count(*) AS _n"), *packs)
    mask = (1 << _SIMHASH_SLOT) - 1
    bits = " | ".join(
        f"CASE WHEN (shiftrightunsigned(_p{g}, {_SIMHASH_SLOT * k}) & {mask}L) * 2 > _n"
        f" THEN shiftleft(1L, {j}) ELSE 0L END"
        for g in groups
        for k, j in enumerate(range(g, min(g + _SIMHASH_PACK, 64)))
    )
    return agg.selectExpr(_q(id_col), f"0L | {bits} AS sim")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def rolling_fingerprint(text: Column, base: int = 257, mod: int = (1 << 61) - 1) -> Column:
    """Polynomial rolling hash of the whole string (Rabin–Karp style),
    computed JVM-side: fold over characters of ``aggregate(split(text, ''))``.

    Deterministic document fingerprint; cheap and order-sensitive
    (unlike a bag-of-words hash).
    """
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, c: (acc * base + F.ascii(c)) % F.lit(mod).cast("decimal(38,0)"),
    ).cast("long")
