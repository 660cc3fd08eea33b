"""Custom streaming Python DataSource: deterministic parquet replay.

``spark.readStream.format("replay").load(path)`` turns a static
parquet table into a micro-batched STREAM — the backfill/reprocessing
primitive: replay yesterday's events through the same streaming
pipeline that handles live data (windows, watermarks, stateful
operators), instead of maintaining a separate batch path. Built on
Spark 4's ``DataSourceStreamReader`` API, so the engine owns offsets,
checkpointing, and exactly-once accounting like any first-class
source.

Contract:

- Rows are replayed in a FIXED total order (sorted by ``orderBy``,
  default the first column), in chunks of ``rowsPerBatch`` per
  micro-batch. Offsets are plain row positions — restart from a
  checkpoint resumes at the exact row, and two replays of the same
  table produce identical batch contents.
- ``latestOffset`` advances at most ``rowsPerBatch`` past the last
  committed position: backpressure by construction, never "the whole
  table in one batch" (availableNow still drains everything, one
  bounded batch at a time).
- The high-water mark that drives that throttle must SURVIVE a
  restart: Spark's checkpoint stores the committed offset, but it
  asks the source for ``latestOffset`` BEFORE ever telling it where
  the last run stopped, so a reader that forgot its position would
  answer below the checkpointed offset and the engine would plan a
  batch whose end REGRESSES the offset log — re-emitting every row
  between the regressed position and the true committed position.
  Pass ``progressDir`` (any driver-visible directory; co-locate it
  with the checkpoint) and ``commit(end)`` persists the mark there
  atomically (tmp + rename), keyed by the replay path, and reader
  init reads it back. Without ``progressDir`` the mark is clamped
  monotonically in memory (``partitions`` never lets it move
  backwards), which is exact for any single run — including crash
  recovery of an un-committed planned batch — but a cold restart
  from a checkpoint whose last batch DID commit needs the sidecar.
- ``read(partition)`` runs on executors: scan the parquet, sort,
  slice [start, end) — correctness-first. At 100 TB the slice path
  would push down to row-group ranges over a presorted layout
  (write_clustered_parquet provides exactly that layout); the offset
  protocol and batch shape stay identical.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

DEFAULT_ROWS_PER_BATCH = 1000


class _RangePartition(InputPartition):
    def __init__(self, path: str, order_by: str, start: int, end: int) -> None:
        self.path = path
        self.order_by = order_by
        self.start = start
        self.end = end


class ReplayDataSource(DataSource):
    """``spark.readStream.format("replay").schema(s).load(path)``.

    Options: ``rowsPerBatch`` (int), ``orderBy`` (column name; the
    replay order — must be a unique key for a total order), and
    ``progressDir`` (directory for the durable high-water sidecar —
    co-locate with the checkpoint; required for exact resume across a
    cold restart, see module docstring).
    A schema is required (the stream reader cannot infer one lazily);
    pass the table's parquet schema.
    """

    @classmethod
    def name(cls) -> str:
        return "replay"

    def schema(self) -> str:
        raise ValueError(
            "replay requires an explicit .schema(...) — pass the parquet "
            "table's schema"
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _ReplayStreamReader(self.options, schema)


class _ReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema: StructType) -> None:
        self._path = options.get("path")
        if not self._path:
            raise ValueError("replay requires a path")
        self._order_by = options.get("orderBy") or schema.fields[0].name
        self._rows_per_batch = int(
            options.get("rowsPerBatch", DEFAULT_ROWS_PER_BATCH)
        )
        self._total = self._count_rows()
        self._progress_file = self._resolve_progress_file(
            options.get("progressDir")
        )
        # High-water mark: the largest position the engine has ever
        # shown us (planned or committed). latestOffset never answers
        # below it, so the offset log can never regress (ADVICE r4).
        self._committed = self._read_progress()

    def _resolve_progress_file(self, progress_dir: str | None) -> str | None:
        if not progress_dir:
            return None
        os.makedirs(progress_dir, exist_ok=True)
        import hashlib

        key = hashlib.sha256(self._path.encode()).hexdigest()[:16]
        return os.path.join(progress_dir, f"replay-hwm-{key}.txt")

    def _read_progress(self) -> int:
        if not self._progress_file or not os.path.exists(self._progress_file):
            return 0
        with open(self._progress_file) as f:
            return int(f.read().strip() or 0)

    def _write_progress(self, pos: int) -> None:
        if not self._progress_file or pos <= self._read_progress():
            return
        tmp = self._progress_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(pos))
        os.replace(tmp, self._progress_file)  # atomic on POSIX

    def _count_rows(self) -> int:
        import pyarrow.parquet as pq

        if os.path.isdir(self._path):
            files = [
                os.path.join(dirp, f)
                for dirp, _, fs in os.walk(self._path)
                for f in fs
                if f.endswith(".parquet")
            ]
        else:
            files = [self._path]
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        # advance one bounded chunk past the high-water mark
        # (backpressure); the mark is monotone (see partitions) and,
        # with progressDir, durable across restarts — never below the
        # engine's checkpointed committed offset
        return {
            "pos": min(self._committed + self._rows_per_batch, self._total)
        }

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # monotone clamp: the engine's start IS its committed offset,
        # so the mark absorbs both and never moves backwards even if a
        # restarted reader began with a stale (or zero) sidecar value
        self._committed = max(self._committed, start["pos"], end["pos"])
        # Persist the PLANNED end too, not just the committed one
        # (ADVICE r5): commit() alone leaves a crash window between the
        # engine's commit-log write and source.commit() where the
        # sidecar is one batch behind — on restart latestOffset()
        # would equal the checkpointed committed offset, no batch ever
        # gets planned, and the stream stalls permanently. A
        # planned-but-uncommitted mark is safe: replay of the actual
        # batch boundaries is driven by the engine's own offset log,
        # and the sidecar only feeds latestOffset()'s high-water
        # pacing, which may legitimately run ahead of commit.
        self._write_progress(end["pos"])
        if start["pos"] >= end["pos"]:
            return []
        return [
            _RangePartition(
                self._path, self._order_by, start["pos"], end["pos"]
            )
        ]

    def read(self, partition: _RangePartition) -> Iterator:
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        table = table.sort_by(partition.order_by)
        return iter(
            table.slice(
                partition.start, partition.end - partition.start
            ).to_batches()
        )

    def commit(self, end: dict) -> None:
        # durably record the committed position so a restarted reader
        # (fresh instance, checkpointed offsets) resumes at the exact
        # row instead of regressing the offset log
        self._committed = max(self._committed, end["pos"])
        self._write_progress(end["pos"])


def register_replay(spark) -> None:
    """Idempotently register the replay stream format on this session."""
    spark.dataSource.register(ReplayDataSource)
