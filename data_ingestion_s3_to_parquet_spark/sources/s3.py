"""S3 object source (reference A1 + A7).

Reference behavior (``/root/reference/src/main.rs:172-208``): stream one
S3 object chunk-at-a-time to a local file, fsync per chunk, return the
byte count; plus the warm-path short-circuit (``main.rs:36``) that skips
the download when the target already exists locally.

Spark-first note: this driver-side fetch exists for strict parity and
for pulling *small archive* objects (zip is not splittable anyway). For
everything else the engine reads ``s3a://`` URIs directly inside
``spark.read`` — the Hadoop S3A connector does ranged parallel reads
across executors, which obsoletes the manual chunk loop (and the
fsync-per-chunk durability/throughput tradeoff disappears: S3A streams
to the task, not to a local file).

boto3 is not part of this environment's baked-in set, so the import is
gated; :class:`S3NotAvailable` signals the capability cleanly.
"""

from __future__ import annotations

import logging
import os

logger = logging.getLogger(__name__)

try:  # pragma: no cover - exercised only where boto3 exists
    import boto3  # type: ignore

    HAVE_BOTO3 = True
except ImportError:  # pragma: no cover
    boto3 = None
    HAVE_BOTO3 = False


class S3NotAvailable(RuntimeError):
    """boto3 (or credentials) missing — S3 fetch cannot run here."""


FETCH_ATTEMPTS = 3


def fetch_s3(
    bucket: str,
    key: str,
    destination: str,
    *,
    chunk_size: int = 8 * 1024 * 1024,
    skip_if_exists: bool = True,
    attempts: int = FETCH_ATTEMPTS,
    client=None,
) -> int:
    """Stream ``s3://bucket/key`` to ``destination``; return bytes written.

    Mirrors the reference's chunked get (main.rs:189-205) including the
    exists short-circuit (main.rs:36-42), with two production
    hardenings the reference lacks:

    - **Atomic commit.** The stream lands in ``destination.part-<pid>``
      and a single ``os.replace`` publishes it after fsync. Without
      this, a crash mid-download leaves a TRUNCATED ``destination``
      that the warm-path exists short-circuit then trusts FOREVER —
      the one failure mode that silently corrupts every downstream
      run. With it, the short-circuit can only ever see complete
      files, so skip-if-exists stays sound.
    - **Bounded retry.** boto3 retries per-request, but a connection
      dropped mid-``iter_chunks`` surfaces as a stream error; the whole
      GET is retried up to ``attempts`` times with exponential backoff
      (1s, 2s, ...) before giving up. Each attempt restarts into a
      fresh part file, so a failed attempt never contaminates the next.

    fsync-per-chunk is *not* reproduced: one fsync before the rename
    gives the same durability point at a fraction of the syscall cost.
    ``client`` is injectable for tests; defaults to ``boto3.client``.
    """
    if attempts < 1:
        # without this, the retry loop never runs and `raise last_err`
        # raises None — a TypeError instead of a real error (ADVICE r6)
        raise ValueError(f"attempts must be >= 1, got {attempts}")
    if skip_if_exists and os.path.exists(destination):
        logger.info("destination %s exists; skipping S3 fetch", destination)
        return 0
    if client is None:
        if not HAVE_BOTO3:
            raise S3NotAvailable("boto3 not installed in this environment")
        client = boto3.client("s3")
    os.makedirs(os.path.dirname(destination) or ".", exist_ok=True)
    # pid alone is not unique within a process: two THREADS fetching
    # the same destination would interleave one part file (ADVICE r6)
    import uuid

    part = f"{destination}.part-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    last_err: Exception | None = None
    for attempt in range(attempts):
        if attempt:
            import time

            delay = 2 ** (attempt - 1)
            logger.warning(
                "retrying s3://%s/%s after %s (attempt %d/%d, backoff %ds)",
                bucket, key, last_err, attempt + 1, attempts, delay,
            )
            time.sleep(delay)
        total = 0
        try:
            obj = client.get_object(Bucket=bucket, Key=key)
            with open(part, "wb") as fh:
                for chunk in obj["Body"].iter_chunks(chunk_size=chunk_size):
                    fh.write(chunk)
                    total += len(chunk)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(part, destination)  # publish only complete bytes
            logger.info(
                "fetched s3://%s/%s -> %s (%d bytes)",
                bucket, key, destination, total,
            )
            return total
        except Exception as e:  # stream/API error: scrap the part, retry
            last_err = e
            try:
                os.remove(part)
            except OSError:
                pass
    raise last_err  # type: ignore[misc]


def s3a_uri(bucket: str, key: str) -> str:
    """The scale path: hand Spark the object URI and let S3A do the I/O."""
    return f"s3a://{bucket}/{key}"
