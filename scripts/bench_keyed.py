#!/usr/bin/env python
"""Keyed-stream throughput datapoint.

The keyed cross-batch streaming twin (run_stream_pipeline_keyed) is
correctness-asserted against the batch run() in test_streaming; this
script measures what that equality COSTS: drain the sf0.1 transcript
table through K micro-batches that split every conversation
mid-conversation (turn ranges per file, maxFilesPerTrigger=1), time the
drain, and compare against the batch run() over the same input in the
same session. Batch and stream runs alternate for ``ROUNDS`` rounds
(batch first in even rounds, stream first in odd ones) and the table
reports the min of each, so neither mode gets the warmer JIT. Every
drain is checked against its round's batch run per conversation, on
every ``OUTPUT_COLS`` column; a divergence aborts the run. Also
reports the per-batch state growth of the `turns` accumulator — the
thing that grows with stream lifetime and that Iceberg conv-bucket
pruning bounds per-batch work against at the real target.

Writes BENCH/STREAM.md and prints one JSON line. Run on a quiet host:
  SPARK_GRAFT_CPUS=4 python scripts/bench_keyed.py
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from otel2pv_spark import datagen  # noqa: E402
from otel2pv_spark.plans import pipeline  # noqa: E402
from otel2pv_spark.session import get_spark  # noqa: E402
from otel2pv_spark.sources.catalog import Catalog  # noqa: E402
from otel2pv_spark.streaming import (  # noqa: E402
    read_transcripts_stream,
    run_stream_pipeline_keyed,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUNDS = 3
# turn ranges per micro-batch file: every conversation splits across
# ALL batches — the adversarial shape for a cross-batch keyed pipeline
# (each batch touches every conversation and recomputes it over its
# full accumulated history). The last slice is OPEN-ENDED so an input
# with longer conversations can never silently lose turns from the
# stream side (a hard cap only surfaced as a 'twin diverged' assert
# after the full drain).
SLICES = [(0, 3), (3, 5), (5, 7), (7, 9), (9, None)]


def conv_fingerprints(df) -> dict:
    """conv_id -> (rows, sum of row hashes over every OUTPUT_COLS
    column): order-independent, one aggregate job."""
    rows = df.groupBy("conv_id").agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*pipeline.OUTPUT_COLS).cast("decimal(38,0)")).alias("h"),
    ).collect()
    return {r["conv_id"]: (int(r["n"]), int(r["h"] or 0)) for r in rows}


def main() -> None:
    spark = get_spark(app_name="bench-keyed")
    work = f"/tmp/otel2pv_keyed_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    tr = datagen.transcripts_from_events(spark, SF_DIR)
    n_rows = tr.count()

    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    slice_rows = []
    for i, (lo, hi) in enumerate(SLICES):
        sl = tr.filter(F.col("turn_idx") >= lo)
        if hi is not None:
            sl = sl.filter(F.col("turn_idx") < hi)
        slice_rows.append(sl.count())
        sl.toPandas().to_parquet(
            f"{src}/part_{i}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        os.utime(f"{src}/part_{i}.parquet", (time.time() + i,) * 2)

    def run_batch(r: int) -> float:
        out = os.path.join(work, f"batch_out_{r}")
        t0 = time.time()
        pipeline.run(spark, tr, pipeline.PipelineConfig(out_root=out, run_id="ref"))
        return time.time() - t0

    def run_stream(r: int) -> float:
        out = os.path.join(work, f"stream_out_{r}")
        t0 = time.time()
        q = run_stream_pipeline_keyed(
            read_transcripts_stream(spark, src, max_files_per_trigger=1),
            datagen.tool_meta(spark), datagen.role_meta(spark),
            out, os.path.join(work, f"ckpt_{r}"), available_now=True,
        )
        drained = q.awaitTermination(3600)
        wall = time.time() - t0
        if not drained:
            q.stop()
            raise RuntimeError(
                "keyed stream did not drain within 1h — refusing to record "
                "a half-drained measurement"
            )
        return wall

    batch_walls, stream_walls = [], []
    for r in range(ROUNDS):
        order = (run_batch, run_stream) if r % 2 == 0 else (run_stream, run_batch)
        for fn in order:
            (batch_walls if fn is run_batch else stream_walls).append(fn(r))
        got = conv_fingerprints(
            Catalog(spark, os.path.join(work, f"stream_out_{r}")).read(
                "sequenced_events"
            )
        )
        want = conv_fingerprints(
            Catalog(spark, os.path.join(work, f"batch_out_{r}")).read(
                "sequenced_events"
            )
        )
        bad = sorted(c for c in got.keys() | want.keys() if got.get(c) != want.get(c))
        if bad:
            raise RuntimeError(
                f"round {r}: stream != batch in {len(bad)} conversations, "
                f"e.g. {bad[:5]}"
            )

    cat = Catalog(spark, os.path.join(work, "stream_out_0"))
    turns_rows = cat.read("turns").count()
    seq_rows = cat.read("sequenced_events").count()
    state_after = [sum(slice_rows[: i + 1]) for i in range(len(slice_rows))]
    batch_wall, stream_wall = min(batch_walls), min(stream_walls)
    master = spark.sparkContext.master

    res = {
        "sf_dir": SF_DIR,
        "master": master,
        "cpus": os.cpu_count(),
        "rows": n_rows,
        "n_batches": len(SLICES),
        "rounds": ROUNDS,
        "batch_wall_sec": [round(w, 2) for w in batch_walls],
        "stream_wall_sec": [round(w, 2) for w in stream_walls],
        "batch_turns_per_sec": round(n_rows / batch_wall, 1),
        "stream_turns_per_sec": round(n_rows / stream_wall, 1),
        "stream_vs_batch": round(stream_wall / batch_wall, 2),
        "turns_state_rows_final": turns_rows,
        "turns_state_rows_after_batch": state_after,
        "sequenced_rows": seq_rows,
        "conversations_checked": len(got),
    }

    def walls(ws):
        return ", ".join(f"{w:.2f}" for w in ws)

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/STREAM.md", "w") as f:
        f.write(f"""# BENCH/STREAM — keyed cross-batch streaming cost

Generated by `scripts/bench_keyed.py` on {master}, {os.cpu_count()} CPUs
({platform.machine()}, Python {platform.python_version()}).

`run_stream_pipeline_keyed` (the cross-batch twin proven row-for-row
equal to the batch `run()` in test_streaming) drained the sf
`{SF_DIR}` transcript table ({n_rows:,} turns) through
{len(SLICES)} micro-batches that split EVERY conversation
mid-conversation (turn ranges {SLICES}, maxFilesPerTrigger=1) — the
adversarial shape where each batch touches every conversation. One
session; batch and stream runs alternate over {ROUNDS} rounds (batch
first in even rounds, stream first in odd ones), and the table reports
the min of each. Every drain equalled its round's batch run on every
`OUTPUT_COLS` column of all {len(got):,} conversations
(per-conversation row count and row-hash sum).

| mode | wall sec per round | min wall sec | turns/sec (min) |
|---|---|---|---|
| batch `run()` (one shot) | {walls(batch_walls)} | {batch_wall:.2f} | {n_rows / batch_wall:,.0f} |
| keyed stream ({len(SLICES)} batches) | {walls(stream_walls)} | {stream_wall:.2f} | {n_rows / stream_wall:,.0f} |

Streaming paid **{stream_wall / batch_wall:.1f}x** the batch wall here
— the expected price of this worst case: every batch re-derives every
touched conversation over its FULL accumulated history plus a keyed
merge, so with all conversations touched per batch the work is
~quadratic in batch count at fixed input. Real ingest touches a small
key slice per trigger, making per-batch work proportional to the
trigger's conversations, not the table.

**State growth.** The `turns` accumulator table grew to
{turns_rows:,} rows (cumulative novel turns:
{state_after}) — linear in total ingested turns, never compacted away
because it IS the recompute input. Per-batch cost therefore grows with
the touched conversations' history length, not with state table size:
the recompute semi-joins the touched conv_ids (Iceberg conv-bucket
pruning at the real target bounds that scan; the full-history read
here is the parquet stand-in's cost, not the design's). The sink merge
(`replace_keys`) is bounded by the touched keys' rows per batch.
""")
    print(json.dumps(res))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
