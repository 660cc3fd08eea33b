"""Seeded input generators for the benchmark workloads.

Two families, both pure functions of ``(seed, size)``:

- :func:`fixture_tables` writes the ten TPC-H-like parquet tables the
  registry lanes read (``sources.catalog.TABLES``), with the shapes and
  value ranges of the repository's test fixtures: documents are 10-100
  words over a 30-word vocabulary with 5% near-duplicates (a copy of an
  earlier document with `` dup`` appended), embeddings are 64-d unit
  vectors with ten labels.
- :func:`airquality_archives` writes zipped air-quality CSVs with the
  reference program's 19 column names. A seeded share of archives drops
  one non-selected column or adds an unexpected one, so the header
  verifier and the reindex path in ``read_zipped_csvs`` do real work.

Everything is vectorised with NumPy and written with pyarrow, so
generation stays a few seconds and is kept out of every timed region.
"""

from __future__ import annotations

import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
PART_NOUN = ("bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PTYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")

# The reference program's 19 input columns, in file order.
AIRQUALITY_COLUMNS = (
    "Date", "NO2", "O3", "PM10", "PM2.5", "Latitude", "Longitude",
    "station_name", "Wind-Speed (U)", "Wind-Speed (V)", "Dewpoint Temp",
    "Soil Temp", "Total Percipitation", "Vegitation (High)",
    "Vegitation (Low)", "Temp", "Relative Humidity", "code", "id",
)
STATIONS = tuple(f"station_{i:03d}" for i in range(50))
CODES = tuple(f"GB{i:04d}A" for i in range(50))
# Columns an archive may drop: never one of the 8 the pipeline selects.
DROPPABLE = AIRQUALITY_COLUMNS[8:18]


def fixture_sizes(docs: int, vecs: int, lines: int) -> dict[str, int]:
    """Row counts per table, scaled from lineitem like the fixtures."""
    return {
        "region": 5,
        "nation": 25,
        "customer": lines // 40,
        "supplier": max(10, lines // 600),
        "part": lines // 30,
        "orders": lines // 4,
        "lineitem": lines,
        "events": lines // 6,
        "documents": docs,
        "embeddings": vecs,
    }


def _days_us(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    """Midnight timestamps on ``n`` random days from ``start``."""
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for ln in lengths:
        texts.append(" ".join(WORDS[w] for w in word_ids[pos : pos + ln]))
        pos += ln
    # 5% near-duplicates of an earlier document; a few are exact copies.
    for i in rng.choice(np.arange(n // 2, n), size=n // 20, replace=False):
        src = texts[int(rng.integers(0, n // 2))]
        texts[i] = src if rng.random() < 0.05 else src + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> list[str]:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist()


def fixture_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write ``{out_dir}/{table}.parquet`` for every catalog table."""
    rng = np.random.default_rng(seed)
    n = sizes
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n["part"], 2))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
                "p_type": _pick(rng, PTYPES, n["part"]),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _days_us(rng, "1995-01-01", 2404, n["orders"]),
                "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n["lineitem"]),
                "l_linestatus": _pick(rng, ("F", "O"), n["lineitem"]),
                "l_shipdate": _days_us(rng, "1995-01-02", 2498, n["lineitem"]),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n["events"]), pa.int64()),
                "ts": pa.array(
                    np.sort(
                        np.datetime64("2024-01-01", "us").astype(np.int64)
                        + rng.integers(0, 30 * 86_400_000_000, n["events"])
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, max(1, n["customer"] // 10), n["events"]), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n["events"]),
                "value": np.round(rng.exponential(40.0, n["events"]), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _airquality_table(rng: np.random.Generator, rows: int, first_id: int) -> pa.Table:
    def measure(lo: float, hi: float, digits: int = 1) -> pa.Array:
        vals = np.round(rng.uniform(lo, hi, rows), digits)
        return pa.array(vals, mask=rng.random(rows) < 0.02)

    days = rng.integers(0, 365 * 3, rows)
    return pa.table(
        {
            "Date": pa.array(np.datetime64("2021-01-01") + days).cast(pa.string()),
            "NO2": measure(0, 200),
            "O3": measure(0, 120),
            "PM10": measure(0, 80),
            "PM2.5": measure(0, 50),
            "Latitude": measure(49.9, 58.6, 4),
            "Longitude": measure(-6.2, 1.8, 4),
            "station_name": _pick(rng, STATIONS, rows),
            "Wind-Speed (U)": measure(-8, 8),
            "Wind-Speed (V)": measure(-8, 8),
            "Dewpoint Temp": measure(260, 295),
            "Soil Temp": measure(265, 300),
            "Total Percipitation": measure(0, 0.01, 4),
            "Vegitation (High)": measure(0, 1, 2),
            "Vegitation (Low)": measure(0, 1, 2),
            "Temp": measure(260, 305),
            "Relative Humidity": measure(20, 100),
            "code": _pick(rng, CODES, rows),
            "id": pa.array(np.arange(first_id, first_id + rows), pa.int64()),
        }
    )


def airquality_archives(
    out_dir: str, seed: int, archives: int, rows_per_archive: int
) -> list[dict]:
    """Write ``archives`` zips (one CSV entry each) plus the plain CSVs.

    Returns one record per archive: its zip and CSV paths, and which
    column it dropped or added (``None`` when its header is the
    reference's). The plain CSVs are what the output check reads.
    """
    rng = np.random.default_rng(seed)
    zip_dir = os.path.join(out_dir, "zips")
    csv_dir = os.path.join(out_dir, "csv")
    os.makedirs(zip_dir, exist_ok=True)
    os.makedirs(csv_dir, exist_ok=True)
    records = []
    for a in range(archives):
        table = _airquality_table(rng, rows_per_archive, a * rows_per_archive)
        roll = rng.random()
        dropped = added = None
        if roll < 0.2:
            dropped = DROPPABLE[int(rng.integers(0, len(DROPPABLE)))]
            table = table.drop_columns([dropped])
        elif roll < 0.4:
            added = "extra_col"
            table = table.append_column(added, pa.array(rng.integers(0, 9, rows_per_archive)))
        csv_path = os.path.join(csv_dir, f"part-{a:03d}.csv")
        pacsv.write_csv(
            table, csv_path, pacsv.WriteOptions(quoting_style="none")
        )
        zip_path = os.path.join(zip_dir, f"part-{a:03d}.zip")
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
            zf.write(csv_path, "data.csv")
        records.append(
            {"zip": zip_path, "csv": csv_path, "dropped": dropped, "added": added}
        )
    return records
