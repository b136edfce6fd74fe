"""HTTP producer — the K3 sink (Server/producers.go:169-212).

The reference POSTs each JSON message with a retry loop: numRetries
(default 3), timeout (default 10 s), exponential backoff (initial 1 s ×
multiplier 1.0) — defaults at producers.go:66,81,95,105. Spark-side the
unit of delivery is a partition, not a message: ``foreachPartition``
posts row batches (JSON arrays) with the same retry/backoff parameters;
an exhausted retry raises, surfacing as a task failure so Spark's own
``spark.task.maxFailures`` adds the outer retry layer the broker-based
producers get from redelivery.

stdlib-only (urllib); no connection pooling dependency. Batches bound
request size; rows serialize via ``to_json`` upstream so the executor
ships plain strings, never Python objects.
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_RETRIES = 3      # producers.go:66
DEFAULT_TIMEOUT_S = 10.0  # producers.go:81
DEFAULT_BACKOFF_S = 1.0   # producers.go:95
DEFAULT_MULTIPLIER = 1.0  # producers.go:105


class HTTPSendError(RuntimeError):
    """All retries exhausted — the SendError analog
    (Server/appErrors.go SendError; producers.go:207-210)."""


def _post_with_retry(
    url: str,
    payload: bytes,
    retries: int,
    timeout_s: float,
    backoff_s: float,
    multiplier: float,
) -> None:
    delay = backoff_s
    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            req = urllib.request.Request(
                url, data=payload, headers={"Content-Type": "application/json"}
            )
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                if 200 <= resp.status < 300:
                    return
                # urlopen raises HTTPError for non-2xx, so this branch
                # only sees exotic handlers; treat like a retryable error
                last = HTTPSendError(f"status {resp.status}")
        except urllib.error.HTTPError as e:
            # Permanent client errors (4xx except 429) can never succeed
            # on retry — fail the batch immediately instead of burning
            # the backoff schedule and re-POSTing the partition's
            # already-delivered earlier batches through task retries.
            if 400 <= e.code < 500 and e.code != 429:
                raise HTTPSendError(
                    f"POST {url} rejected permanently: status {e.code}"
                ) from e
            last = e
        except (urllib.error.URLError, OSError) as e:
            last = e
        if attempt < retries:
            time.sleep(delay)
            delay *= multiplier
    raise HTTPSendError(f"POST {url} failed after {retries + 1} attempts: {last}")


def write_http(
    df: DataFrame,
    url: str,
    batch_size: int = 500,
    retries: int = DEFAULT_RETRIES,
    timeout_s: float = DEFAULT_TIMEOUT_S,
    backoff_s: float = DEFAULT_BACKOFF_S,
    multiplier: float = DEFAULT_MULTIPLIER,
) -> None:
    """POST every row of ``df`` to ``url`` as JSON-array batches.

    One partition = one delivery stream (ordered within partition);
    batches of ``batch_size`` rows per request."""
    jsonified = df.select(F.to_json(F.struct(*df.columns)).alias("j"))

    def send_partition(rows) -> None:
        batch: list[str] = []
        for r in rows:
            batch.append(r["j"])
            if len(batch) >= batch_size:
                _post_with_retry(
                    url, ("[" + ",".join(batch) + "]").encode(),
                    retries, timeout_s, backoff_s, multiplier,
                )
                batch = []
        if batch:
            _post_with_retry(
                url, ("[" + ",".join(batch) + "]").encode(),
                retries, timeout_s, backoff_s, multiplier,
            )

    jsonified.foreachPartition(send_partition)
