"""Zip archive source (reference A2), parity path + distributed path.

Reference behavior (``/root/reference/src/main.rs:153-170``): open the
archive, iterate entries, write each to the output dir, and *skip*
entries whose names are unsafe (zip-slip guard via ``enclosed_name()``).

Two implementations behind one interface:

- :func:`extract_zip` — driver-local ``zipfile`` extraction, faithful to
  the reference (which also extracts to local disk before reading).
- :func:`read_zipped_csvs` — the 100 TB path: zip is a non-splittable
  container, so distribution happens at archive granularity —
  ``spark.read.format("binaryFile")`` lists the archives, and a
  ``mapInArrow`` stage decompresses + parses each archive's entries on
  executors with ``pyarrow.csv`` (one task per archive, Arrow batches
  end to end). No driver bottleneck, no shared filesystem needed.

Both paths skip unsafe names (:func:`_is_safe_name`), and only entries
that :func:`is_csv_entry` accepts are parsed as CSV.
"""

from __future__ import annotations

import io
import logging
import os
import zipfile
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.csv as pacsv
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..session import tune

logger = logging.getLogger(__name__)


def _is_safe_name(name: str) -> bool:
    """Zip-slip guard: mirror of the reference's ``enclosed_name()`` check."""
    if os.path.isabs(name):
        return False
    parts = name.replace("\\", "/").split("/")
    return ".." not in parts


def is_csv_entry(name: str) -> bool:
    """The one CSV-entry rule of every zip path: a ``.csv`` suffix in
    any case."""
    return name.lower().endswith(".csv")


def extract_zip(zip_path: str, output_dir: str) -> list[str]:
    """Extract all safe entries of ``zip_path`` into ``output_dir``.

    Returns the list of extracted file paths. Unsafe entry names are
    skipped (logged), matching main.rs:158-163's ``continue``.

    Each entry is written to a ``.part-<pid>-<uuid>`` sibling and
    published with one ``os.replace`` — the warm path (A7)
    short-circuits on the extracted CSV's EXISTENCE, so a crash
    mid-extract must never leave a truncated file under the final name
    for every later run to trust (same atomic-commit rule as
    ``fetch_s3`` and the artifact store; the uuid keeps two THREADS of
    one process off each other's part file — ADVICE r6).
    """
    import uuid

    os.makedirs(output_dir, exist_ok=True)
    extracted: list[str] = []
    with zipfile.ZipFile(zip_path) as zf:
        for info in zf.infolist():
            if not _is_safe_name(info.filename):
                logger.warning("skipping unsafe zip entry: %r", info.filename)
                continue
            if info.is_dir():
                continue
            target = os.path.join(output_dir, info.filename)
            os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
            part = f"{target}.part-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            try:
                with zf.open(info) as src, open(part, "wb") as dst:
                    dst.write(src.read())
                os.replace(part, target)  # publish only complete bytes
            except BaseException:
                try:
                    os.remove(part)
                except OSError:
                    pass
                raise
            extracted.append(target)
    logger.info("extracted %d entries from %s", len(extracted), zip_path)
    return extracted


def read_zipped_csvs(
    spark: SparkSession, zip_glob: str, schema: StructType
) -> DataFrame:
    """Distributed zip→CSV scan: one executor task per archive.

    ``binaryFile`` ships each archive's bytes to a task; ``pyarrow.csv``
    parses every safe CSV entry inside it (header row required) and
    yields its Arrow batches. The schema alone configures the parser
    (never inferred — no double scan, stable types at any scale):

    - only schema columns are converted; extra CSV columns are dropped
      unparsed, so a k-of-n column read costs ~k, not n (SCALE.md §24);
    - a schema column absent from an entry reads as NULL (the
      warn-missing/never-abort contract);
    - each column is parsed straight to its schema type;
    - empty and ``NA``-style cells are NULL in every column, strings
      included.
    """
    tune(spark)
    convert = pacsv.ConvertOptions(
        column_types=to_arrow_schema(schema),
        include_columns=schema.fieldNames(),
        include_missing_columns=True,
        strings_can_be_null=True,
    )

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for content in batch.column("content").to_pylist():
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for info in zf.infolist():
                        name = info.filename
                        if info.is_dir() or not _is_safe_name(name):
                            continue
                        if not is_csv_entry(name):
                            continue
                        table = pacsv.read_csv(
                            pa.BufferReader(zf.read(info)), convert_options=convert
                        )
                        yield from table.to_batches()

    binaries = spark.read.format("binaryFile").load(zip_glob)
    return binaries.select("content").mapInArrow(parse, schema=schema)
