"""One shared lineage-cut helper for every iterative / reused
intermediate in the repo.

Why it exists: ``df.localCheckpoint()`` stores blocks on executors,
UNREPLICATED. On a real cluster (preemption is routine at 100 TB
scale) losing one executor mid-iteration kills the job with no
recovery — the lineage was deliberately cut, so Spark cannot recompute
the lost blocks. That is acceptable in this sandbox's single-JVM
local mode (there is no executor to lose independently of the driver)
but NOT on the 1000-executor target. Every lineage cut in the repo
therefore routes through :func:`snapshot`, which picks the mechanism
from the session conf ``spark.otel2pv.snapshot.reliable``:

- unset or false: ``localCheckpoint`` — fast, no distributed
  filesystem needed; the sandbox/test mode.
- true: ``df.checkpoint()`` against a REAL checkpoint directory
  (HDFS / object store on a cluster), so a lost executor's blocks are
  re-read from the checkpoint files instead of aborting PageRank /
  connected-components / k-means / PQ / BPE mid-iteration.

The checkpoint directory resolves from session conf
``spark.otel2pv.snapshot.dir``, else
``$TMPDIR/otel2pv_ckpt-<app-id>``; on a cluster pass an HDFS/S3A
URI (the tmp default is only meaningful in local mode). Old checkpoint
files are reclaimed by Spark's context cleaner when
``spark.cleaner.referenceTracking.cleanCheckpoints=true``; otherwise
clean the directory per job run.

Call sites use ``df.transform(snapshot)`` so the fluent chains read
the same as the ``.localCheckpoint()`` they replaced.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

_TRUTHY = {"1", "true", "yes", "on"}


def _reliable_configured(spark) -> bool:
    conf = spark.conf.get("spark.otel2pv.snapshot.reliable", "")
    return conf.strip().lower() in _TRUTHY


def _ensure_checkpoint_dir(spark) -> None:
    sc = spark.sparkContext
    try:
        current = sc.getCheckpointDir()
    except Exception:  # very old API surface — treat as unset
        current = None
    if current:
        return
    ckdir = spark.conf.get("spark.otel2pv.snapshot.dir", None) or os.path.join(
        tempfile.gettempdir(), f"otel2pv_ckpt-{sc.applicationId}"
    )
    sc.setCheckpointDir(ckdir)


def snapshot(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and cut its lineage.

    The session conf ``spark.otel2pv.snapshot.reliable`` is the one
    switch: it flips the whole engine — all iterative state (graph
    rounds, CC edges, k-means centroids, BPE merges), every reused
    scan, and the streaming per-batch stabilizers — to fault-tolerant
    ``checkpoint()`` without touching operator code.
    """
    if _reliable_configured(df.sparkSession):
        _ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint()
    return df.localCheckpoint()
