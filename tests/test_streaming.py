"""Streaming-mode tests: micro-batch pipeline parity vs batch, and the
stateful group-and-verify accumulator (state across micro-batches,
completion-based emission, no premature emission for incomplete convs).
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import read_table
from otel2pv_spark import datagen
from otel2pv_spark.plans import pipeline
from otel2pv_spark.streaming import (
    read_transcripts_stream,
    run_stream_pipeline,
    stateful_group_verify,
)

SF = "/root/testdata/sf0.001"


def _write_chunks(spark, tmp_path, n_chunks=3):
    """Split transcripts into chunk files of WHOLE conversations (the
    documented micro-batch assumption), distinct mtimes for ordering."""
    tr = datagen.transcripts_from_events(spark, SF)
    src = str(tmp_path / "stream_src")
    convs = [r[0] for r in tr.select("conv_id").distinct().orderBy("conv_id").collect()]
    groups = [convs[i::n_chunks] for i in range(n_chunks)]
    os.makedirs(src, exist_ok=True)
    for i, g in enumerate(groups):
        tr.filter(F.col("conv_id").isin(g)).toPandas().to_parquet(
            f"{src}/chunk_{i}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        os.utime(f"{src}/chunk_{i}.parquet", (time.time() + i, time.time() + i))
    return tr, src


def test_stream_pipeline_matches_batch(spark, tmp_path):
    tr, src = _write_chunks(spark, tmp_path)
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")

    stream = read_transcripts_stream(spark, src, max_files_per_trigger=1)
    q = run_stream_pipeline(
        stream, datagen.tool_meta(spark), datagen.role_meta(spark),
        out, ckpt, available_now=True,
    )
    q.awaitTermination(300)

    # every output column, not a subset: the stream runs the batch DAG
    got = spark.read.parquet(f"{out}/sequenced_events").select(
        *pipeline.OUTPUT_COLS
    )
    want, _ = pipeline.build_sequenced(
        tr, datagen.tool_meta(spark), datagen.role_meta(spark), pipeline.PipelineConfig()
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # streaming is resumable: a second availableNow run over the same
    # checkpoint sees no new files and appends nothing
    q2 = run_stream_pipeline(
        read_transcripts_stream(spark, src, max_files_per_trigger=1),
        datagen.tool_meta(spark), datagen.role_meta(spark),
        out, ckpt, available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/sequenced_events").count() == want.count()


def test_stateful_group_verify(spark, tmp_path):
    src = str(tmp_path / "state_src")
    os.makedirs(src, exist_ok=True)
    # conv A: 3 turns split across two files; conv B: complete in file 1;
    # conv C: incomplete forever (missing turn 1 of 3)
    f1 = pd.DataFrame(
        {
            "conv_id": ["A", "A", "B", "B", "C"],
            "turn_idx": [0, 1, 0, 1, 0],
            "event_id": ["A:0", "A:1", "B:0", "B:1", "C:0"],
            "parent_event_id": ["", "A:0", "", "B:0", ""],
            "n_expected": [3, 3, 2, 2, 3],
        }
    )
    f2 = pd.DataFrame(
        {
            "conv_id": ["A", "C"],
            "turn_idx": [2, 2],
            "event_id": ["A:2", "C:2"],
            "parent_event_id": ["A:1", "C:1"],
            "n_expected": [3, 3],
        }
    )
    for df in (f1, f2):
        df["turn_idx"] = df["turn_idx"].astype("int32")
        df["n_expected"] = df["n_expected"].astype("int32")
    f1.to_parquet(f"{src}/f1.parquet", index=False)
    f2.to_parquet(f"{src}/f2.parquet", index=False)
    os.utime(f"{src}/f2.parquet", (time.time() + 5, time.time() + 5))

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, event_id string, "
            "parent_event_id string, n_expected int"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # timeout far beyond the run so the no-premature-emission assertion
    # is deterministic even on a slow host (the timeout path itself is
    # covered by emitting whatever-collected on expiry; with a 60 s
    # timeout this test observed C emitted timed_out=True when batches
    # lagged, confirming G5 fires — but that's timing-dependent)
    out = stateful_group_verify(stream, timeout_ms=3_600_000)
    sink = str(tmp_path / "state_out")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    rows = {r["conv_id"]: r.asDict() for r in spark.read.parquet(sink).collect()}
    # B completed within batch 1; A completed once batch 2 arrived
    assert rows["B"]["verified"] and rows["B"]["n_turns"] == 2
    assert rows["B"]["event_ids"] == ["B:0", "B:1"]
    assert rows["A"]["verified"] and rows["A"]["n_turns"] == 3
    assert rows["A"]["event_ids"] == ["A:0", "A:1", "A:2"]
    # C never completed (gap at turn 1) and the timeout hasn't fired
    assert "C" not in rows


def test_stream_dedup_gate(spark, tmp_path):
    """Continuous dedup: batch-1 novel docs append to clean+index;
    batch-2 copies of batch-1 docs (and of the pre-seeded corpus) are
    dropped with their matched id; novel batch-2 docs pass."""
    from otel2pv_spark.functions import dedup as dd
    from otel2pv_spark.streaming import read_docs_stream, run_stream_dedup

    corpus = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 100)
    from otel2pv_spark.sources.catalog import Catalog

    state = str(tmp_path / "dedup_state")
    Catalog(spark, state).write(dd.minhash_band_table(corpus), "band_index")

    texts = {r["doc_id"]: r["text"] for r in corpus.limit(5).collect()}
    src = str(tmp_path / "docs_src")
    os.makedirs(src, exist_ok=True)
    # batch 1: two novel docs + one exact copy of corpus doc 0
    pd.DataFrame(
        {"doc_id": [1000, 1001, 1002],
         "text": ["a wholly novel first document about spark planning",
                  "another new unrelated document mentioning different topics",
                  texts[0]]}
    ).to_parquet(f"{src}/b1.parquet", index=False)
    # batch 2: copy of batch-1 kept doc, copy of corpus doc 1, novel doc
    pd.DataFrame(
        {"doc_id": [2000, 2001, 2002],
         "text": ["a wholly novel first document about spark planning",
                  texts[1],
                  "completely fresh third text on yet another theme entirely"]}
    ).to_parquet(f"{src}/b2.parquet", index=False)
    os.utime(f"{src}/b1.parquet", (time.time() - 10, time.time() - 10))

    out = str(tmp_path / "dedup_out")
    q = run_stream_dedup(
        read_docs_stream(spark, src, max_files_per_trigger=1),
        state, out, str(tmp_path / "dd_ckpt"), available_now=True,
    )
    q.awaitTermination(300)

    kept = {r["doc_id"] for r in read_table(spark, out, "clean").collect()}
    dropped = {
        r["doc_id"]: r["matched_id"]
        for r in read_table(spark, out, "dup_rejects").collect()
    }
    assert kept == {1000, 1001, 2002}
    assert dropped[1002] == 0 and dropped[2001] == 1
    assert dropped[2000] == 1000  # matched the batch-1 KEPT doc via the index
    # index grew by exactly the kept docs' bands (3 bands each)
    idx_ids = {
        r["doc_id"] for r in read_table(spark, state, "band_index").collect()
    }
    assert {1000, 1001, 2002} <= idx_ids and 1002 not in idx_ids


def test_stream_windowed_metrics_watermark_drops_late_rows(spark, tmp_path):
    """Event-time windows finalize once the watermark passes, and a row
    arriving later than the watermark delay is dropped. Run as three
    availableNow runs over one checkpoint (restart-resume, the
    production shape): within a single run Spark applies the watermark
    committed at run start, so cross-RUN lateness is what's enforced."""
    from otel2pv_spark.streaming import read_transcripts_stream, stream_windowed_metrics

    src = str(tmp_path / "wm_src")
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ckpt")
    os.makedirs(src, exist_ok=True)

    def _f(name, rows, offset):
        pd.DataFrame(
            [{"conv_id": c, "turn_idx": 0, "role": "user", "text": "t",
              "tool": None, "ts": pd.Timestamp(f"2026-01-01 {ts}")}
             for c, ts in rows]
        ).to_parquet(f"{src}/{name}.parquet", index=False,
                     coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(f"{src}/{name}.parquet", (time.time() + offset,) * 2)

    def _run():
        q = (
            stream_windowed_metrics(read_transcripts_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # run 1: two rows in [10:00,10:01) + a max-ts row at 10:04
    # -> committed watermark = 10:02, strictly past the 10:00 window
    _f("b1", [("c1", "10:00:10"), ("c2", "10:00:20"), ("c4", "10:04:00")], 0)
    _run()
    # run 2: a LATE row for the watermark-passed 10:00 window (dropped)
    # + a pusher; the 10:00 window finalizes WITHOUT the late row
    _f("b2", [("c5", "10:00:30"), ("c7", "10:30:00")], 1)
    _run()
    # run 3: far-future row so every earlier window finalizes
    _f("b3", [("c8", "11:00:00")], 2)
    _run()

    got = {
        r["window_start"].strftime("%H:%M"): r["n_turns"]
        for r in spark.read.parquet(out).collect()
    }
    assert got["10:00"] == 2, got   # late c5 did NOT count
    assert got["10:04"] == 1, got
    assert got["10:30"] == 1, got
    assert "11:00" not in got, got  # its window never finalized


def test_stream_session_stats_merges_and_finalizes(spark, tmp_path):
    """Native session_window over the stream: events within the gap of
    each other merge into one session (even across availableNow runs,
    while the session is still open w.r.t. the watermark); a session
    finalizes once the watermark passes its end."""
    from otel2pv_spark.streaming import read_transcripts_stream, stream_session_stats

    src = str(tmp_path / "ss_src")
    out = str(tmp_path / "ss_out")
    ckpt = str(tmp_path / "ss_ckpt")
    os.makedirs(src, exist_ok=True)

    def _f(name, rows, offset):
        pd.DataFrame(
            [{"conv_id": c, "turn_idx": 0, "role": "user", "text": "t",
              "tool": None, "ts": pd.Timestamp(f"2026-01-01 {ts}")}
             for c, ts in rows]
        ).to_parquet(f"{src}/{name}.parquet", index=False,
                     coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(f"{src}/{name}.parquet", (time.time() + offset,) * 2)

    def _run():
        q = (
            stream_session_stats(
                read_transcripts_stream(spark, src),
                gap="10 minutes", watermark_delay="1 minute",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # c1: two events 5 min apart -> ONE session [10:00, 10:15)
    _f("b1", [("c1", "10:00:00"), ("c1", "10:05:00")], 0)
    _run()
    # c1 again 30 min later (> gap) -> a NEW session; pusher event far
    # ahead so the watermark passes both session ends
    _f("b2", [("c1", "10:45:00"), ("c2", "12:00:00")], 1)
    _run()
    _f("b3", [("c2", "13:00:00")], 2)
    _run()

    rows = spark.read.parquet(out).collect()
    sessions = sorted(
        (r["conv_id"], r["session_start"].strftime("%H:%M"),
         r["session_end"].strftime("%H:%M"), r["n_turns"])
        for r in rows
    )
    assert ("c1", "10:00", "10:15", 2) in sessions   # merged pair, end = last+gap
    assert ("c1", "10:45", "10:55", 1) in sessions   # new session after > gap


def test_stream_rollup_matches_batch_counts(spark, tmp_path):
    """The streaming rollup's n_events / value_sum_micro equal the
    batch rollup exactly for windows the watermark has finalized;
    n_users_approx is a positive HLL estimate. Two availableNow runs
    over one checkpoint: the second batch's far-future row pushes the
    watermark past the first windows so they emit."""
    import pandas as pd

    from otel2pv_spark.operators import aggregate as agg_op
    from otel2pv_spark.streaming import read_events_stream, stream_rollup

    src = str(tmp_path / "ev_src")
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    os.makedirs(src, exist_ok=True)

    rows1 = [
        (1, "2026-01-01 10:05:00", 10, "click", 1.5),
        (2, "2026-01-01 10:20:00", 11, "click", 2.5),
        (3, "2026-01-01 10:40:00", 10, "view", 4.0),
    ]
    rows2 = [(4, "2026-01-02 00:00:00", 12, "click", 8.0)]

    def _f(name, rows, offset):
        pd.DataFrame(
            [
                {"event_id": e, "ts": pd.Timestamp(ts), "user_id": u,
                 "event_type": k, "value": v, "props": ""}
                for e, ts, u, k, v in rows
            ]
        ).to_parquet(f"{src}/{name}.parquet", index=False,
                     coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(f"{src}/{name}.parquet", (time.time() + offset,) * 2)

    def _run():
        q = (
            stream_rollup(read_events_stream(spark, src), width="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    _f("b1", rows1, 0)
    _run()
    _f("b2", rows2, 1)
    _run()

    got = {
        (r.window_start_us, r.event_type): (r.n_events, r.value_sum_micro)
        for r in spark.read.parquet(out).collect()
    }
    batch_df = spark.createDataFrame(
        [(e, ts, u, k, v, "") for e, ts, u, k, v in rows1],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    )
    want = {
        (r.window_start_us, r.event_type): (r.n_events, r.value_sum_micro)
        for r in agg_op.rollup_time_windows(batch_df, width="1 hour").collect()
    }
    # the 10:00 windows are finalized by the far-future watermark push
    assert want.items() <= got.items()
    approx = {
        r.event_type: r.n_users_approx for r in spark.read.parquet(out).collect()
    }
    assert approx.get("click", 0) >= 1 and approx.get("view", 0) >= 1


def test_stream_hll_state_folds_into_batch_state(spark, tmp_path):
    """The streaming HLL state must be BIT-IDENTICAL to the batch
    sketch over the same rows (the lambda handoff: live rows fold into
    the stored state via hll_merge exactly), and the merged estimate
    must equal the all-at-once batch estimate."""
    import pandas as pd

    from otel2pv_spark.functions import sketch
    from otel2pv_spark.operators import aggregate as agg_op
    from otel2pv_spark.streaming import read_events_stream, stream_hll_state

    src = str(tmp_path / "hll_src")
    out = str(tmp_path / "hll_out")
    ckpt = str(tmp_path / "hll_ckpt")
    os.makedirs(src, exist_ok=True)

    rows1 = [
        (1, "2026-01-01 10:05:00", 10, "click", 1.5),
        (2, "2026-01-01 10:20:00", 11, "click", 2.5),
        (3, "2026-01-01 10:40:00", 10, "view", 4.0),
    ]
    rows2 = [(4, "2026-01-02 00:00:00", 12, "click", 8.0)]

    def _f(name, rows, offset):
        pd.DataFrame(
            [
                {"event_id": e, "ts": pd.Timestamp(ts), "user_id": u,
                 "event_type": k, "value": v, "props": ""}
                for e, ts, u, k, v in rows
            ]
        ).to_parquet(f"{src}/{name}.parquet", index=False,
                     coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(f"{src}/{name}.parquet", (time.time() + offset,) * 2)

    def _run():
        q = (
            stream_hll_state(read_events_stream(spark, src), width="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    _f("b1", rows1, 0)
    _run()
    _f("b2", rows2, 1)
    _run()

    live = spark.read.parquet(out)
    batch_df = spark.createDataFrame(
        [(e, ts, u, k, v, "") for e, ts, u, k, v in rows1],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    )
    batch_state = agg_op.rollup_users_hll(batch_df, width="1 hour")
    grain = ("window_start_us", "window_end_us", "event_type")
    want = {
        tuple(r[c] for c in grain) + (r.register,): r.rho
        for r in batch_state.collect()
    }
    got = {
        tuple(r[c] for c in grain) + (r.register,): r.rho
        for r in live.collect()
    }
    # every finalized batch-state row appears bit-identically in the
    # live output (the far-future b2 row pushed the watermark)
    assert want.items() <= got.items()

    # folding live output into the batch state changes nothing (MAX
    # idempotence), and the estimate matches the all-at-once estimate
    merged = sketch.hll_merge(
        [batch_state, live.select(*grain, "register", "rho")], grain
    )
    e_merged = {
        tuple(r[c] for c in grain): r.n_distinct_est
        for r in sketch.hll_estimate(merged, grain, p=8).collect()
    }
    all_rows = batch_df.unionByName(
        spark.createDataFrame(
            [(e, ts, u, k, v, "") for e, ts, u, k, v in rows2],
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        )
    )
    e_direct = {
        tuple(r[c] for c in grain): r.n_distinct_est
        for r in sketch.hll_estimate(
            agg_op.rollup_users_hll(all_rows, width="1 hour"), grain, p=8
        ).collect()
    }
    # merged covers the finalized horizon (rows2's own window has not
    # emitted yet) — on every grain it covers, it must equal the
    # all-at-once estimate exactly
    assert len(e_merged) == 2
    assert e_merged.items() <= e_direct.items()


def test_stream_anomaly_alerts_match_batch(spark, tmp_path):
    """run_stream_anomaly flags the same windows the batch
    anomaly_flags operator flags (restricted to watermark-finalized
    windows), with the spike window alerted and constant-baseline
    windows quiet — across MULTIPLE micro-batches over one stored
    state table (maxFilesPerTrigger=1)."""
    import pandas as pd

    from otel2pv_spark.operators import aggregate as agg_op
    from otel2pv_spark.operators.profile import anomaly_flags
    from otel2pv_spark.streaming import stream_pipeline as sp

    src = str(tmp_path / "an_src")
    state = str(tmp_path / "an_state")
    out = str(tmp_path / "an_out")
    ckpt = str(tmp_path / "an_ckpt")
    os.makedirs(src, exist_ok=True)

    # hourly counts for 'click': 2,2,2,2,8(spike),2 then a far-future
    # row that pushes the watermark past everything above
    counts = [2, 2, 2, 2, 8, 2]
    eid = 0
    for h, n in enumerate(counts):
        rows = []
        for i in range(n):
            eid += 1
            rows.append(
                {"event_id": eid, "ts": pd.Timestamp(f"2026-01-01 {h:02d}:{10+i*5:02d}:00"),
                 "user_id": 10 + i, "event_type": "click", "value": 1.0,
                 "props": ""}
            )
        pd.DataFrame(rows).to_parquet(
            f"{src}/f{h}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        os.utime(f"{src}/f{h}.parquet", (time.time() + h,) * 2)
    pd.DataFrame(
        [{"event_id": 999, "ts": pd.Timestamp("2026-01-03 00:00:00"),
          "user_id": 1, "event_type": "click", "value": 1.0, "props": ""}]
    ).to_parquet(f"{src}/zz_future.parquet", index=False,
                 coerce_timestamps="us", allow_truncated_timestamps=True)
    os.utime(f"{src}/zz_future.parquet", (time.time() + 100,) * 2)

    def run():
        q = sp.run_stream_anomaly(
            sp.read_events_stream(spark, src, max_files_per_trigger=1),
            state_root=state, out_root=out, checkpoint=ckpt,
            width="1 hour", trail=3, nsigma=3, watermark_delay="30 minutes",
            available_now=True,
        )
        q.awaitTermination(300)
        return q

    run()
    got = {
        (r.event_type, r.window_start_us)
        for r in read_table(spark, out, "alerts").collect()
    }
    state_windows = {
        (r.event_type, r.window_start_us)
        for r in read_table(spark, state, "rollup").collect()
    }
    # batch recompute over the SAME finalized windows
    ev = spark.read.parquet(src)
    roll = agg_op.rollup_time_windows(ev, width="1 hour").select(
        "event_type", "window_start_us", "n_events"
    )
    batch_flags = {
        (r.event_type, r.window_start_us)
        for r in anomaly_flags(
            roll, "n_events", by="event_type",
            order_col="window_start_us", trail=3, nsigma=3,
        ).filter("anomaly").collect()
        if (r.event_type, r.window_start_us) in state_windows
    }
    assert got == batch_flags
    # the spike hour (04:00) is flagged; nothing else is
    spike_us = int(pd.Timestamp("2026-01-01 04:00:00").value // 1000)
    assert got == {("click", spike_us)}
    # multiple micro-batches actually ran (state accumulated per batch)
    assert len(state_windows) >= 5

    # a batch replayed after its rollup commit commits nothing more
    n_rollup = read_table(spark, state, "rollup").count()
    _replay_last_batch(ckpt)
    assert run().lastProgress is not None  # the replayed batch ran
    assert read_table(spark, state, "rollup").count() == n_rollup
    assert {
        (r.event_type, r.window_start_us)
        for r in read_table(spark, out, "alerts").collect()
    } == got
    assert read_table(spark, out, "alerts").count() == len(got)


def _write_correlate_fixture(tmp_path):
    """Hourly event files (distinct mtimes -> one micro-batch each):
    clicks and purchases per user, some purchases inside the 1 h
    horizon, some clicks with no purchase (timeouts), plus a far-future
    click that drives the watermark past everything."""
    import pandas as pd

    src = str(tmp_path / "corr_src")
    os.makedirs(src, exist_ok=True)

    def ev(eid, ts, uid, etype):
        return {"event_id": eid, "ts": pd.Timestamp(ts), "user_id": uid,
                "event_type": etype, "value": 1.0, "props": ""}

    files = [
        [ev(1000, "2026-01-01 00:05:00", 1, "click"),
         ev(2000, "2026-01-01 00:35:00", 1, "purchase")],
        [ev(1001, "2026-01-01 01:05:00", 2, "click"),
         ev(2001, "2026-01-01 01:06:00", 2, "purchase"),
         ev(2002, "2026-01-01 01:50:00", 2, "purchase")],  # 2nd match
        [ev(1002, "2026-01-01 02:05:00", 1, "click")],      # timeout
        [ev(1003, "2026-01-01 03:05:00", 2, "click"),
         ev(2003, "2026-01-01 03:04:00", 2, "purchase"),    # BEFORE click
         ev(2004, "2026-01-01 04:00:00", 2, "purchase")],   # cross-file OK
        # flush files carry BOTH event types: the join's watermark is
        # the MIN across the two input streams, so a click-only file
        # would leave the response side's watermark (and with it the
        # global one) stuck at the last purchase
        [ev(9999, "2026-01-03 00:00:00", 9, "click"),
         ev(8999, "2026-01-03 00:00:00", 8, "purchase")],
        # second flush: state eviction (and leftOuter null emission)
        # happens with the watermark of the PREVIOUS batch, so the
        # outer rows for real requests need one more data batch
        [ev(9998, "2026-01-05 00:00:00", 9, "click"),
         ev(8998, "2026-01-05 00:00:00", 8, "purchase")],
    ]
    for i, rows in enumerate(files):
        p = f"{src}/f{i}.parquet"
        pd.DataFrame(rows).to_parquet(
            p, index=False, coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.utime(p, (time.time() + i,) * 2)
    return src


def test_stream_correlate_matches_batch(spark, tmp_path):
    """Native stream-stream join == batch request_response_join on the
    same data (inner), across multiple micro-batches with cross-batch
    matches; leftOuter flushes exactly the batch timeouts once the
    watermark passes each request's horizon."""
    from otel2pv_spark.operators import enrich as enrich_op
    from otel2pv_spark.streaming import stream_pipeline as sp

    src = _write_correlate_fixture(tmp_path)

    def reqs_resps(stream):
        return (
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
        )

    # --- inner ---
    out_i = str(tmp_path / "corr_inner")
    joined = sp.stream_correlate(
        *reqs_resps(sp.read_events_stream(spark, src, max_files_per_trigger=1)),
        horizon_sec=3600, watermark_delay="2 hours",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_i)
        .option("checkpointLocation", str(tmp_path / "corr_ckpt_i"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    ev = spark.read.parquet(src)
    batch = enrich_op.request_response_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon_sec=3600,
    )
    key = lambda r: (r.req_event_id, r.resp_event_id, r.latency_us)  # noqa: E731
    got = sorted(key(r) for r in spark.read.parquet(out_i).collect())
    want = sorted(key(r) for r in batch.collect())
    assert got == want
    # non-vacuous: same-batch, second-match, and cross-file matches all hit
    assert {(1000, 2000), (1001, 2001), (1001, 2002), (1003, 2004)} <= {
        (a, b) for a, b, _ in got
    }
    assert (1003, 2003) not in {(a, b) for a, b, _ in got}  # resp before req

    # --- leftOuter: watermark-flushed timeouts ---
    out_o = str(tmp_path / "corr_outer")
    joined_o = sp.stream_correlate(
        *reqs_resps(sp.read_events_stream(spark, src, max_files_per_trigger=1)),
        horizon_sec=3600, watermark_delay="2 hours", how="leftOuter",
    )
    q2 = (
        joined_o.writeStream.format("parquet")
        .option("path", out_o)
        .option("checkpointLocation", str(tmp_path / "corr_ckpt_o"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    outer = spark.read.parquet(out_o)
    timeouts = sorted(
        r.req_event_id for r in outer.filter("resp_event_id IS NULL").collect()
    )
    # click 1002 MUST time out (its horizon passed below the watermark
    # with a data batch still to run); 9999 times out too iff the
    # engine schedules a trailing no-data batch (scheduler detail, not
    # semantics — both are true timeouts); 9998's horizon never clears
    # the final watermark, and no MATCHED click may ever appear here
    assert 1002 in timeouts
    assert set(timeouts) <= {1002, 9999}
    # matched pairs identical to the inner run
    matched = sorted(
        key(r) for r in outer.filter("resp_event_id IS NOT NULL").collect()
    )
    assert matched == want


def test_stream_exact_dedup_drops_redeliveries(spark, tmp_path):
    """Replays of already-seen event_ids arriving in later micro-batches
    (inside the watermark horizon) are dropped; distinct events all
    pass — output == batch dropDuplicates on the key."""
    from otel2pv_spark.streaming import stream_pipeline as sp

    src = str(tmp_path / "xd_src")
    os.makedirs(src, exist_ok=True)

    def ev(eid, ts):
        return {"event_id": eid, "ts": pd.Timestamp(ts), "user_id": 1,
                "event_type": "click", "value": 1.0, "props": ""}

    b1 = [ev(1, "2026-01-01 00:00:00"), ev(2, "2026-01-01 00:10:00")]
    # batch 2: replays of 1 and 2 (same payload, at-least-once
    # redelivery) + one genuinely new event
    b2 = [ev(1, "2026-01-01 00:00:00"), ev(2, "2026-01-01 00:10:00"),
          ev(3, "2026-01-01 00:20:00")]
    for i, rows in enumerate([b1, b2]):
        p = f"{src}/f{i}.parquet"
        pd.DataFrame(rows).to_parquet(
            p, index=False, coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.utime(p, (time.time() + i,) * 2)

    out = str(tmp_path / "xd_out")
    q = (
        sp.stream_exact_dedup(
            sp.read_events_stream(spark, src, max_files_per_trigger=1),
            keys=("event_id",), watermark_delay="1 hour",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "xd_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]


def _write_counter_files(src, batches, first=0):
    """One event file per micro-batch, ``f<first>``, ``f<first+1>``, …
    (distinct mtimes order them)."""
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate(batches, start=first):
        pd.DataFrame(
            [{"event_id": e, "ts": pd.Timestamp(t), "user_id": u,
              "event_type": k, "value": v, "props": ""}
             for e, t, u, k, v in chunk]
        ).to_parquet(f"{src}/f{i}.parquet", index=False,
                     coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(f"{src}/f{i}.parquet", (time.time() + i,) * 2)


def _replay_last_batch(ckpt):
    """Drop the commit-log entry of the query's last batch, so the next
    start over ``ckpt`` replays it: the crash window after the batch's
    foreachBatch commits, before its commit-log write."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        p = os.path.join(commits, f)
        if os.path.exists(p):
            os.remove(p)


def _run_counter_rate(spark, src, state, out, ckpt):
    from otel2pv_spark.streaming import stream_pipeline as sp

    q = sp.run_stream_counter_rate(
        sp.read_events_stream(spark, src, max_files_per_trigger=1),
        state_root=state, out_root=out, checkpoint=ckpt,
        width="1 hour", available_now=True,
    )
    q.awaitTermination(300)
    return q


def test_stream_counter_rate_equals_batch(spark, tmp_path):
    """run_stream_counter_rate over three micro-batches == the batch
    counter_rate over the full input (cross-batch deltas included —
    the state row donates the lag), with late rows routed out."""
    from otel2pv_spark.operators import aggregate as agg_op
    from otel2pv_spark.streaming import stream_pipeline as sp

    src, state, out, ckpt = (
        str(tmp_path / d) for d in ("src", "state", "out", "ckpt")
    )
    # two series; user 7 resets (12.5 -> 3.0) ACROSS the batch split,
    # so the delta only exists if state donates the lag
    rows = [
        (1, "2026-01-01 10:00:00", 7, "bytes", 10.0),
        (2, "2026-01-01 10:10:00", 7, "bytes", 12.5),
        (3, "2026-01-01 10:05:00", 9, "bytes", 1.0),
        # --- batch 2 ---
        (4, "2026-01-01 10:20:00", 7, "bytes", 3.0),
        (5, "2026-01-01 11:10:00", 9, "bytes", 4.0),
        # --- batch 3 ---
        (6, "2026-01-01 11:30:00", 7, "bytes", 5.5),
    ]
    _write_counter_files(src, [rows[:3], rows[3:5], rows[5:]])
    _run_counter_rate(spark, src, state, out, ckpt)

    batch_df = spark.createDataFrame(
        [(e, t, u, k, v) for e, t, u, k, v in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    want = {
        (r.window_start_us, r.event_type): (r.increase_micro, r.n_deltas)
        for r in agg_op.counter_rate(batch_df, width="1 hour").collect()
    }
    got = {
        (r.window_start_us, r.event_type): (r.increase_micro, r.n_deltas)
        for r in sp.read_counter_rates(spark, out).collect()
    }
    assert got == want
    # sanity: the cross-batch reset delta is present (10h window:
    # 2.5 + reset 3.0 from user 7, 10:05 first sample contributes 0)
    ten = [v for (w, k), v in got.items()
           if w == pd.Timestamp("2026-01-01 10:00:00").value // 1000]
    assert ten == [(5_500_000, 2)]
    # state holds exactly the two series' last samples
    st = read_table(spark, state, "series_last").collect()
    assert {(r.user_id, r.event_id) for r in st} == {(7, 6), (9, 5)}


def test_stream_counter_rate_routes_late_rows(spark, tmp_path):
    """A sample at/behind its series' stored last sample is parked in
    /late, not lagged against the wrong neighbor."""
    from otel2pv_spark.streaming import stream_pipeline as sp

    src, state, out, ckpt = (
        str(tmp_path / d) for d in ("src", "state", "out", "ckpt")
    )
    _write_counter_files(src, [
        [(1, "2026-01-01 10:00:00", 7, "bytes", 10.0),
         (2, "2026-01-01 10:10:00", 7, "bytes", 12.0)],
        [(3, "2026-01-01 10:05:00", 7, "bytes", 11.0),   # LATE
         (4, "2026-01-01 10:20:00", 7, "bytes", 13.0)],  # fresh
    ])
    _run_counter_rate(spark, src, state, out, ckpt)

    late = read_table(spark, out, "late").collect()
    assert [r.event_id for r in late] == [3]
    got = sp.read_counter_rates(spark, out).collect()
    # 2.0 (batch 1) + 1.0 (13 - 12 across batches; late row excluded)
    assert [(r.increase_micro, r.n_deltas) for r in got] == [(3_000_000, 2)]


def test_stream_counter_rate_replay_after_state_commit(spark, tmp_path):
    """A batch replayed after its state replace committed (its
    commit-log entry lost) finds its own batch identity in the state
    and commits nothing more: its in-order samples are not routed to
    ``late`` and its increments are not appended twice."""
    from otel2pv_spark.streaming import stream_pipeline as sp

    src, state, out, ckpt = (
        str(tmp_path / d) for d in ("src", "state", "out", "ckpt")
    )
    _write_counter_files(src, [
        [(1, "2026-01-01 10:00:00", 7, "bytes", 10.0),
         (2, "2026-01-01 10:10:00", 7, "bytes", 12.0)],
        [(3, "2026-01-01 10:20:00", 7, "bytes", 13.0),
         (4, "2026-01-01 10:30:00", 7, "bytes", 15.0)],
    ])
    _run_counter_rate(spark, src, state, out, ckpt)
    before = sorted(map(tuple, sp.read_counter_rates(spark, out).collect()))
    assert [(r[3], r[4]) for r in before] == [(5_000_000, 3)]

    _replay_last_batch(ckpt)
    q = _run_counter_rate(spark, src, state, out, ckpt)
    assert q.lastProgress is not None  # the replayed batch ran

    assert read_table(spark, out, "late").count() == 0
    assert sorted(map(tuple, sp.read_counter_rates(spark, out).collect())) == before


def test_stream_state_absent_vs_unreadable(spark, tmp_path):
    """Sink state read through the Catalog: a state directory created
    but never committed (the crash window before a first commit)
    starts fresh; a committed state table with a corrupt data file
    fails the query instead of being read as empty."""
    import glob

    from pyspark.errors import StreamingQueryException

    from conftest import table_parquet_globs
    from otel2pv_spark.sources.catalog import Catalog
    from otel2pv_spark.streaming import stream_pipeline as sp

    src, state, out, ckpt = (
        str(tmp_path / d) for d in ("src", "state", "out", "ckpt")
    )
    cat = Catalog(spark, state)
    if cat.strategy == "posix":
        os.makedirs(cat.path("series_last"))
    else:
        os.makedirs(os.path.join(state, "_meta", "series_last"))
        os.makedirs(os.path.join(state, "_data", "series_last", "s-crashed"))
    _write_counter_files(src, [
        [(1, "2026-01-01 10:00:00", 7, "bytes", 10.0),
         (2, "2026-01-01 10:10:00", 7, "bytes", 12.0)],
    ])
    _run_counter_rate(spark, src, state, out, ckpt)
    assert [(r.user_id, r.event_id) for r in cat.read("series_last").collect()] == [
        (7, 2)
    ]
    assert [r.increase_micro for r in sp.read_counter_rates(spark, out).collect()] == [
        2_000_000
    ]

    files = [
        f for g in table_parquet_globs(state, "series_last")
        for f in glob.glob(g, recursive=True)
    ]
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    _write_counter_files(
        src, [[(3, "2026-01-01 10:20:00", 7, "bytes", 13.0)]], first=1
    )
    with pytest.raises(StreamingQueryException):
        _run_counter_rate(spark, src, state, out, ckpt)
    assert [r.increase_micro for r in sp.read_counter_rates(spark, out).collect()] == [
        2_000_000
    ]


def test_stream_burn_rate_alerts_match_batch(spark, tmp_path):
    """run_stream_burn_rate pages exactly the hours the batch operator
    flags: day-1 hours burn 30% (>= 3x the 10% budget short, >= 2x
    long — stable under partial-day totals because every day-1 hour
    has the same ratio), day-2 hours are clean; alerts accumulate
    across micro-batches over one stored short-rollup state."""
    import pandas as pd

    from otel2pv_spark.operators import aggregate as agg_op
    from otel2pv_spark.streaming import stream_pipeline as sp

    src = str(tmp_path / "br_src")
    state = str(tmp_path / "br_state")
    out = str(tmp_path / "br_out")
    ckpt = str(tmp_path / "br_ckpt")
    os.makedirs(src, exist_ok=True)

    eid = 0
    specs = [("2026-01-01", h, 3, 7) for h in range(4)]   # 30% burn
    specs += [("2026-01-02", h, 0, 10) for h in range(2)]  # clean
    for day, h, n_err, n_ok in specs:
        rows = []
        for i in range(n_err + n_ok):
            eid += 1
            rows.append({
                "event_id": eid,
                "ts": pd.Timestamp(f"{day} {h:02d}:{1 + i * 5:02d}:00"),
                "user_id": 1,
                "event_type": "error" if i < n_err else "ok",
                "value": 1.0, "props": "",
            })
        f = f"{src}/{day}-{h:02d}.parquet"
        pd.DataFrame(rows).to_parquet(
            f, index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        os.utime(f, (time.time() + h + (24 if day.endswith("02") else 0),) * 2)
    pd.DataFrame(
        [{"event_id": 9999, "ts": pd.Timestamp("2026-01-05 00:00:00"),
          "user_id": 1, "event_type": "ok", "value": 1.0, "props": ""}]
    ).to_parquet(f"{src}/zz_future.parquet", index=False,
                 coerce_timestamps="us", allow_truncated_timestamps=True)
    os.utime(f"{src}/zz_future.parquet", (time.time() + 100,) * 2)

    def run():
        """Drain ``src``; the sorted alert rows."""
        stream = sp.read_events_stream(
            spark, src, max_files_per_trigger=1
        ).withColumn("svc", F.lit("api")).withColumn(
            "is_error", F.col("event_type") == "error"
        )
        q = sp.run_stream_burn_rate(
            stream, state_root=state, out_root=out, checkpoint=ckpt,
            error_col="is_error", budget_ppm=100_000,
            short_factor=3, long_factor=2, key_col="svc",
            watermark_delay="30 minutes", available_now=True,
        )
        q.awaitTermination(300)
        return sorted(read_table(spark, out, "alerts").collect())

    got = {(r.svc, r.window_start_us) for r in run()}
    state_windows = {
        (r.svc, r.window_start_us)
        for r in read_table(spark, state, "short_rollup").collect()
    }
    # batch recompute over the SAME finalized short windows
    ev = spark.read.parquet(src).withColumn("svc", F.lit("api"))
    finalized = [w for (_, w) in state_windows]
    batch = {
        (r.svc, r.window_start_us)
        for r in agg_op.burn_rate_alerts(
            ev.filter(
                F.unix_micros(
                    F.date_trunc("hour", F.col("ts").cast("timestamp"))
                ).isin(finalized)
            ),
            F.col("event_type") == "error",
            budget_ppm=100_000, short_factor=3, long_factor=2, key_col="svc",
        ).collect()
    }
    assert got == batch
    day1 = pd.Timestamp("2026-01-01 00:00:00").value // 1000
    assert got == {("api", day1 + h * 3600 * 1_000_000) for h in range(4)}
    assert len(state_windows) >= 6  # every fixture hour finalized

    # replay: one more burning hour (Jan 6, 00:00), finalized by the
    # last batch of a second run; that batch replayed after its state
    # replace commits nothing more
    for i, (ts, n_err, n_ok) in enumerate(
        [("2026-01-06 00:01", 3, 7), ("2026-01-08 00:00", 0, 1)]
    ):
        pd.DataFrame([
            {"event_id": 20_000 + 100 * i + j,
             "ts": pd.Timestamp(ts) + pd.Timedelta(minutes=5 * j),
             "user_id": 1, "event_type": "error" if j < n_err else "ok",
             "value": 1.0, "props": ""}
            for j in range(n_err + n_ok)
        ]).to_parquet(f"{src}/zz_more{i}.parquet", index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(f"{src}/zz_more{i}.parquet", (time.time() + 200 + i,) * 2)

    alerts = run()
    jan6 = pd.Timestamp("2026-01-06 00:00:00").value // 1000
    assert {(r.svc, r.window_start_us) for r in alerts} == got | {("api", jan6)}
    assert len(alerts) == len(got) + 1
    _replay_last_batch(ckpt)
    assert run() == alerts


def test_stream_burn_rate_state_retention_bounded(spark, tmp_path):
    """State stays bounded however old the stream gets: short windows
    older than two long windows behind the newest finalized one are
    dropped at the atomic state replace."""
    import pandas as pd

    from otel2pv_spark.streaming import stream_pipeline as sp

    src = str(tmp_path / "brr_src")
    state = str(tmp_path / "brr_state")
    out = str(tmp_path / "brr_out")
    ckpt = str(tmp_path / "brr_ckpt")
    os.makedirs(src, exist_ok=True)

    eid = 0
    specs = [("2026-01-01", 0), ("2026-01-01", 1), ("2026-01-05", 0)]
    for i, (day, h) in enumerate(specs):
        rows = []
        for j in range(5):
            eid += 1
            rows.append({
                "event_id": eid, "ts": pd.Timestamp(f"{day} {h:02d}:{1+j*5:02d}:00"),
                "user_id": 1, "event_type": "ok", "value": 1.0, "props": "",
            })
        f = f"{src}/{i}-{day}-{h}.parquet"
        pd.DataFrame(rows).to_parquet(
            f, index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        os.utime(f, (time.time() + i,) * 2)
    pd.DataFrame(
        [{"event_id": 9999, "ts": pd.Timestamp("2026-01-08 00:00:00"),
          "user_id": 1, "event_type": "ok", "value": 1.0, "props": ""}]
    ).to_parquet(f"{src}/zz_future.parquet", index=False,
                 coerce_timestamps="us", allow_truncated_timestamps=True)
    os.utime(f"{src}/zz_future.parquet", (time.time() + 100,) * 2)

    stream = sp.read_events_stream(
        spark, src, max_files_per_trigger=1
    ).withColumn("svc", F.lit("api")).withColumn(
        "is_error", F.col("event_type") == "error"
    )
    q = sp.run_stream_burn_rate(
        stream, state_root=state, out_root=out, checkpoint=ckpt,
        error_col="is_error", budget_ppm=100_000,
        short_factor=3, long_factor=2, key_col="svc",
        watermark_delay="30 minutes", available_now=True,
    )
    q.awaitTermination(300)

    kept = {
        r.window_start_us
        for r in read_table(spark, state, "short_rollup").collect()
    }
    jan5 = pd.Timestamp("2026-01-05 00:00:00").value // 1000
    # the Jan-1 windows fell out of the retention horizon (Jan-3) when
    # the Jan-5 delta replaced the state
    assert kept == {jan5}


def test_stream_burn_rate_empty_alerts_readable(spark, tmp_path):
    """A healthy stream (nothing burns) must leave a READABLE empty
    alerts table: the first alerts commit lands even when empty."""
    import pandas as pd

    from otel2pv_spark.streaming import stream_pipeline as sp

    src = str(tmp_path / "bre_src")
    os.makedirs(src, exist_ok=True)
    rows = [{"event_id": i, "ts": pd.Timestamp(f"2026-01-01 00:{i:02d}:00"),
             "user_id": 1, "event_type": "ok", "value": 1.0, "props": ""}
            for i in range(5)]
    pd.DataFrame(rows).to_parquet(f"{src}/a.parquet", index=False,
                                  coerce_timestamps="us",
                                  allow_truncated_timestamps=True)
    pd.DataFrame(
        [{"event_id": 99, "ts": pd.Timestamp("2026-01-03 00:00:00"),
          "user_id": 1, "event_type": "ok", "value": 1.0, "props": ""}]
    ).to_parquet(f"{src}/z.parquet", index=False, coerce_timestamps="us",
                 allow_truncated_timestamps=True)
    os.utime(f"{src}/z.parquet", (time.time() + 50,) * 2)

    stream = sp.read_events_stream(spark, src).withColumn(
        "svc", F.lit("api")
    ).withColumn("is_error", F.col("event_type") == "error")
    out = str(tmp_path / "bre_out")
    q = sp.run_stream_burn_rate(
        stream, state_root=str(tmp_path / "bre_state"), out_root=out,
        checkpoint=str(tmp_path / "bre_ckpt"), error_col="is_error",
        budget_ppm=100_000, short_factor=3, long_factor=2, key_col="svc",
        watermark_delay="30 minutes", available_now=True,
    )
    q.awaitTermination(300)
    got = read_table(spark, out, "alerts")  # must not raise
    assert got.count() == 0
    assert set(got.columns) == {
        "window_start_us", "svc", "errors", "total", "l_errors", "l_total"}


def test_stream_rate_limit_census_sums_to_batch(spark, tmp_path):
    """The live throttle's census deltas SUM to the batch operator's
    census per grain, quota carries across micro-batches (a grain
    filled in batch 1 admits nothing in batch 2), and kept counts cap
    at N."""
    import pandas as pd

    from otel2pv_spark.operators.templates import rate_limit
    from otel2pv_spark.streaming import stream_pipeline as sp

    src = str(tmp_path / "rl_src")
    os.makedirs(src, exist_ok=True)
    # batch 1: 4 'hot' rows in hour 0; batch 2: 3 more in the SAME hour
    for b, ids in enumerate([[0, 1, 2, 3], [10, 11, 12]]):
        rows = [{"event_id": i,
                 "ts": pd.Timestamp(f"2026-01-01 00:{i:02d}:00"),
                 "user_id": 1, "event_type": "hot", "value": 1.0, "props": ""}
                for i in ids]
        pd.DataFrame(rows).to_parquet(f"{src}/b{b}.parquet", index=False,
                                      coerce_timestamps="us",
                                      allow_truncated_timestamps=True)
        os.utime(f"{src}/b{b}.parquet", (time.time() + b,) * 2)

    out = str(tmp_path / "rl_out")
    q = sp.run_stream_rate_limit(
        sp.read_events_stream(spark, src, max_files_per_trigger=1),
        state_root=str(tmp_path / "rl_state"), out_root=out,
        checkpoint=str(tmp_path / "rl_ckpt"),
        max_per_window=5, available_now=True,
    )
    q.awaitTermination(300)

    kept = read_table(spark, out, "kept")
    assert kept.count() == 5  # 4 from batch 1 + only 1 from batch 2
    ranks = sorted(r.sample_rank for r in kept.collect())
    assert ranks == [1, 2, 3, 4, 5]

    census = (
        read_table(spark, out, "census")
        .groupBy("event_type", "window_start_us")
        .agg(F.sum("n_total").alias("n_total"),
             F.sum("n_kept").alias("n_kept"),
             F.sum("n_dropped").alias("n_dropped"))
    )
    ev = spark.read.parquet(src)
    _, batch_census = rate_limit(ev, max_per_window=5)
    live = {(r.event_type, r.window_start_us): (r.n_total, r.n_kept, r.n_dropped)
            for r in census.collect()}
    ref = {(r.event_type, r.window_start_us): (r.n_total, r.n_kept, r.n_dropped)
           for r in batch_census.collect()}
    assert live == ref


def test_stream_rate_limit_all_null_ts_batch_keeps_state(spark, tmp_path):
    """Regression: a micro-batch whose every row has a NULL event time
    contributes nothing to the census (Spark time windows null-filter
    their timestamp, in the batch twin too), so the prune horizon is
    NULL; the admission log must survive it (prune nothing), so a
    grain filled before the null batch still admits nothing after
    it. Before the _h null-guard the NULL compare dropped the whole
    log and batch 3 was re-admitted."""
    import pandas as pd

    from otel2pv_spark.streaming import stream_pipeline as sp

    src = str(tmp_path / "rln_src")
    os.makedirs(src, exist_ok=True)
    batches = [
        # batch 1 fills the 'hot'/hour-0 grain (cap 3)
        [{"event_id": i, "ts": pd.Timestamp(f"2026-01-01 00:{i:02d}:00"),
          "user_id": 1, "event_type": "hot", "value": 1.0, "props": ""}
         for i in range(3)],
        # batch 2: every ts NULL — horizon is NULL; must prune nothing
        [{"event_id": 100 + i, "ts": pd.NaT,
          "user_id": 1, "event_type": "hot", "value": 1.0, "props": ""}
         for i in range(2)],
        # batch 3: same hour-0 grain — quota must still be exhausted
        [{"event_id": 200 + i,
          "ts": pd.Timestamp(f"2026-01-01 00:3{i}:00"),
          "user_id": 1, "event_type": "hot", "value": 1.0, "props": ""}
         for i in range(2)],
    ]
    for b, rows in enumerate(batches):
        pd.DataFrame(rows).to_parquet(
            f"{src}/b{b}.parquet", index=False, coerce_timestamps="us",
            allow_truncated_timestamps=True)
        os.utime(f"{src}/b{b}.parquet", (time.time() + b,) * 2)

    out = str(tmp_path / "rln_out")
    q = sp.run_stream_rate_limit(
        sp.read_events_stream(spark, src, max_files_per_trigger=1),
        state_root=str(tmp_path / "rln_state"), out_root=out,
        checkpoint=str(tmp_path / "rln_ckpt"),
        max_per_window=3, available_now=True,
    )
    q.awaitTermination(300)

    kept = read_table(spark, out, "kept")
    # 3 from batch 1; null-ts rows are window-filtered in BOTH twins
    # (defined semantics); batch 3's hour-0 rows must ALL be dropped —
    # before the null-horizon guard the log was wiped and they slipped in
    assert kept.count() == 3
    assert sorted(r.event_id for r in kept.collect()) == [0, 1, 2]
    assert kept.filter(F.col("ts").isNull()).count() == 0

    # a second query (new checkpoint, so its batch ids restart at 0)
    # over the same roots still sees the first query's admissions
    src_b = str(tmp_path / "rln_src_b")
    os.makedirs(src_b)
    pd.DataFrame(
        [{"event_id": 10 + i, "ts": pd.Timestamp(f"2026-01-01 00:1{i}:00"),
          "user_id": 1, "event_type": "hot", "value": 1.0, "props": ""}
         for i in range(2)]
    ).to_parquet(f"{src_b}/b0.parquet", index=False, coerce_timestamps="us",
                 allow_truncated_timestamps=True)
    q = sp.run_stream_rate_limit(
        sp.read_events_stream(spark, src_b),
        state_root=str(tmp_path / "rln_state"), out_root=out,
        checkpoint=str(tmp_path / "rln_ckpt_b"),
        max_per_window=3, available_now=True,
    )
    q.awaitTermination(300)
    kept = read_table(spark, out, "kept")
    assert sorted(r.event_id for r in kept.collect()) == [0, 1, 2]


def test_stream_keyed_pipeline_matches_batch_run_with_split_convs(spark, tmp_path):
    """The full-DAG streaming parity gate: conversations split
    MID-conversation across three micro-batches (turns [0,4), [4,8),
    [8,12) of EVERY conversation per file), processed by the keyed
    foreachBatch twin — final sequenced_events / rejects / _metrics
    must equal the batch run() over the same transcripts row-for-row,
    and a second availableNow run over the same checkpoint must change
    nothing (replay idempotence)."""
    from conftest import read_table

    tr = datagen.transcripts_from_events(spark, SF)
    src = str(tmp_path / "keyed_src")
    os.makedirs(src, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 4), (4, 8), (8, 12)]):
        tr.filter(
            (F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)
        ).toPandas().to_parquet(
            f"{src}/part_{i}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        os.utime(f"{src}/part_{i}.parquet", (time.time() + i,) * 2)

    out = str(tmp_path / "keyed_out")
    from otel2pv_spark.streaming import run_stream_pipeline_keyed

    def run():
        q = run_stream_pipeline_keyed(
            read_transcripts_stream(spark, src, max_files_per_trigger=1),
            datagen.tool_meta(spark), datagen.role_meta(spark),
            out, str(tmp_path / "keyed_ckpt"), available_now=True,
        )
        q.awaitTermination(600)
        return q

    run()

    batch_out = str(tmp_path / "batch_out")
    pipeline.run(
        spark, tr, pipeline.PipelineConfig(out_root=batch_out, run_id="ref")
    )

    cols = [
        "conv_id", "turn_idx", "sink", "event_id", "previous_event_ids",
        "verified", "sequenceable", "is_duplicate", "text",
    ]

    def _rows(df, cs):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in
                  (r[c] for c in cs))
            for r in df.select(*cs).collect()
        )

    got = read_table(spark, out, "sequenced_events")
    want = read_table(spark, batch_out, "sequenced_events")
    assert _rows(got, cols) == _rows(want, cols)
    rej_cols = ["conv_id", "turn_idx", "reject_reason"]
    assert _rows(read_table(spark, out, "rejects"), rej_cols) == _rows(
        read_table(spark, batch_out, "rejects"), rej_cols
    )
    got_m = {(r.sink, r.rows)
             for r in read_table(spark, out, "_metrics").collect()}
    want_m = {(r.sink, r.rows)
              for r in read_table(spark, batch_out, "_metrics").collect()}
    assert got_m == want_m

    # replay: same checkpoint, no new files -> nothing changes
    before = _rows(got, cols)
    run()
    assert _rows(read_table(spark, out, "sequenced_events"), cols) == before

    # replay after the merge: the last batch resumes its own run
    # manifest, so no manifest is added and the sinks are unchanged
    def manifests():
        return sorted(
            f for f in os.listdir(os.path.join(out, "_manifest"))
            if f.startswith("incr-sb") and f.endswith(".json")
        )

    assert len(manifests()) == 3  # one per batch
    _replay_last_batch(str(tmp_path / "keyed_ckpt"))
    assert run().lastProgress is not None  # the replayed batch ran
    assert len(manifests()) == 3
    assert _rows(read_table(spark, out, "sequenced_events"), cols) == before
    assert _rows(read_table(spark, out, "rejects"), rej_cols) == _rows(
        read_table(spark, batch_out, "rejects"), rej_cols
    )


def test_stream_keyed_pipeline_dedups_in_batch_duplicates(spark, tmp_path):
    """Producer-retry duplicates landing in the SAME micro-batch must
    collapse (first by (ts, text)) — otherwise the turns table carries
    two copies of a key forever and every recompute diverges from the
    batch twin."""
    import pandas as pd

    from conftest import read_table
    from otel2pv_spark.streaming import run_stream_pipeline_keyed

    src = str(tmp_path / "dup_src")
    os.makedirs(src, exist_ok=True)
    rows = []
    for k in range(3):
        r = {"conv_id": "A", "turn_idx": k, "role": "user",
             "text": f"event=view id=A:{k} parent="
                     + ("-" if k == 0 else f"A:{k-1}")
                     + ' job=job-1 app=app-1 :: {"k": 1}',
             "tool": "", "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=k)}
        rows.append(r)
        if k == 1:
            rows.append(dict(r))  # exact in-batch duplicate delivery
    dup_df = pd.DataFrame(rows)
    dup_df["turn_idx"] = dup_df["turn_idx"].astype("int32")
    dup_df.to_parquet(f"{src}/b0.parquet", index=False,
                      coerce_timestamps="us",
                      allow_truncated_timestamps=True)

    out = str(tmp_path / "dup_out")
    q = run_stream_pipeline_keyed(
        read_transcripts_stream(spark, src),
        datagen.tool_meta(spark), datagen.role_meta(spark),
        out, str(tmp_path / "dup_ckpt"), available_now=True,
    )
    q.awaitTermination(300)
    turns = read_table(spark, out, "turns")
    assert turns.count() == 3
    seq = read_table(spark, out, "sequenced_events")
    assert seq.count() == 3
    assert seq.filter(F.col("is_duplicate")).count() == 0
