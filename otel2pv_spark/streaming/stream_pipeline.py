"""Streaming pipeline — the live-queue analog of the batch DAG.

The module holds three kinds of streaming code, mirroring the
reference's architecture (file:line cites the reference source):

1. **Micro-batch pipelines.** ``run_stream_pipeline`` (append mode):
   ``readStream`` over a growing transcript directory →
   ``foreachBatch`` running the batch DAG's single-pass plan (parse →
   verify → sequence → enrich → route) → per-sink append. This is the
   analog of the consumer → pipe → producer chain
   (Server/server.go:74-105) with the micro-batch replacing the AMQP
   delivery: source offsets + checkpointLocation give the
   ack-after-downstream-success semantics (Server/consumers.go:638-651)
   — a batch is only committed to the offset log after its
   foreachBatch writes return. It assumes a conversation's turns
   arrive within one micro-batch (file = bundle of whole
   conversations), as the Sequencer receives the whole tree as one
   message (sequencer.go:812-832); ``run_stream_pipeline_keyed`` does
   not.

2. **Stateful group-and-verify** (``stateful_group_verify``):
   ``applyInPandasWithState`` keyed by conv_id — the actor-per-tree
   demultiplex (groupandverify.go:424-506) with Spark's state store
   replacing the per-tree goroutine + map. Turns accumulate in state;
   a conversation emits when its chain is complete (every turn's
   parent link matches the previous turn — the bidirectional-balance
   specialization, groupandverify.go:555-671) or when the
   processing-time timeout expires, in which case it emits unverified —
   exactly the 2 s verification-timeout semantics
   (groupandverify.go:873-919, default :211). Late turns for an
   already-emitted conversation start a NEW state instance, matching
   the mop-up re-enqueue (groupandverify.go:456-474).

3. **Live twins of batch operators**: ``stream_*`` transforms return
   a streaming DataFrame; the foreachBatch sinks (dedup, anomaly,
   counter rate, burn rate, rate limit) commit state (``state_root``)
   and outputs (``out_root``) through the Catalog, under the table
   names each docstring lists. ``run_stream_pipeline`` is the one raw
   writer left.

Replay rule: a micro-batch replayed after a crash (its commit-log
entry lost) is recognised by ``_batch_tag``, the query id with the
batch id. Each stateful consumer writes that tag into its last commit
of the batch and returns early when ``_replayed`` finds it there.
Output appends that land before that commit stay at-least-once; each
docstring names them.

Scale shape: state is hash-partitioned by conv_id across executors
(same as the batch shuffle); per-conv state is bounded by conversation
length; RocksDB state store + changelog checkpointing are the
production knobs (config, not code).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..snapshot import snapshot
from ..sources.catalog import Catalog
from ..plans.pipeline import (
    OUTPUT_COLS,
    REJECT_COLS,
    PipelineConfig,
    build_single_pass,
)

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _read_file_stream(
    spark: SparkSession, schema: T.StructType, path: str, max_files: int | None
) -> DataFrame:
    """File-source stream over a parquet directory: new files are the
    arriving messages, source offsets are the acks (S1/S2 analog)."""
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.parquet(path)


def _start(stream: DataFrame, process, checkpoint: str, available_now: bool):
    """Start ``process`` as the query's foreachBatch sink in append
    output mode; ``available_now`` drains the input present at start,
    then stops."""
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _append_log(cat, df: DataFrame, table: str) -> None:
    """Append a per-batch delta to a log table. The first commit lands
    even when empty, so the table is readable; later empty deltas
    commit nothing (an empty append still adds a file). Pass a
    snapshot: the emptiness probe runs the plan once more otherwise."""
    if not cat.exists(table) or not df.isEmpty():
        cat.append(df, table)


def _batch_tag(checkpoint: str, batch_id: int) -> str:
    """A micro-batch's identity across restarts: ``<query id>:<batch
    id>``, the query id read from ``<checkpoint>/metadata``. A bare
    batch id is no identity: it restarts at 0 under a new checkpoint,
    which also gets a new query id."""
    with open(os.path.join(checkpoint, "metadata")) as fh:
        return f"{json.load(fh)['id']}:{batch_id}"


def _replayed(cat, table: str, tag: str) -> bool:
    """True when ``table`` holds a ``_batch == tag`` row: the batch
    ``tag`` names already made its last commit, and this run of it is
    a replay (its commit-log entry was lost) that must commit nothing."""
    return cat.exists(table) and not (
        cat.read(table).filter(F.col("_batch") == tag).isEmpty()
    )


def read_transcripts_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a transcript directory."""
    return _read_file_stream(spark, TRANSCRIPT_SCHEMA, path, max_files_per_trigger)


def run_stream_pipeline(
    stream: DataFrame,
    tool_meta: DataFrame,
    role_meta: DataFrame,
    out_root: str,
    checkpoint: str,
    available_now: bool = False,
):
    """foreachBatch micro-batch pipeline: each micro-batch runs the
    batch DAG itself (``build_single_pass`` with the default config),
    persisted once and written as its two filters — routable rows per
    sink, and rejects. The package's one raw writer (``Catalog.append``
    refuses the ``sink`` partitioning): a replayed batch appends twice.
    Its output is plain parquet, not Catalog tables — read
    ``<out_root>/sequenced_events`` and ``<out_root>/rejects`` with
    ``spark.read.parquet``."""
    cfg = PipelineConfig()
    is_reject = F.col("reject_reason").isNotNull()

    def process(batch: DataFrame, batch_id: int) -> None:
        sp = build_single_pass(batch, tool_meta, role_meta, cfg).persist()
        try:
            sp.filter(~is_reject).select(*OUTPUT_COLS).write.mode(
                "append"
            ).partitionBy("sink").parquet(f"{out_root}/sequenced_events")
            sp.filter(is_reject).select(*REJECT_COLS).write.mode(
                "append"
            ).parquet(f"{out_root}/rejects")
        finally:
            sp.unpersist()

    return _start(stream, process, checkpoint, available_now)


def run_stream_pipeline_keyed(
    stream: DataFrame,
    tool_meta: DataFrame,
    role_meta: DataFrame,
    out_root: str,
    checkpoint: str,
    available_now: bool = False,
):
    """The cross-batch micro-batch pipeline: row-for-row equal to the
    batch ``run()`` at EVERY batch boundary, even when a conversation's
    turns split across micro-batches (mode 1's whole-conversation
    assumption removed). Each batch: (1) accumulate novel turns into a
    Catalog ``turns`` table keyed on (conv_id, turn_idx) — an anti-join
    makes redelivery/replay idempotent, first version of a key wins;
    (2) recompute ONLY the touched conversations over their FULL turn
    history; (3) merge the recompute into ``sequenced_events`` and
    ``rejects`` with ``Catalog.replace_keys``: one staged write of
    (both tables minus the touched conversations) ∪ recompute (Iceberg
    MERGE at the real target). This is the reference's late-message
    mop-up (a late same-tree message re-processes that tree,
    groupandverify.go:456-474) as a keyed merge, and the standard
    Spark shape for exactly-once-by-key sinks over at-least-once
    micro-batches.

    Crash safety: turns append is an atomic Catalog commit that a
    replay's anti-join leaves unchanged; the per-batch recompute runs
    under a ``run_incremental`` manifest named by the batch identity
    (``incr-sb<query id>-<batch id>``, ``_batch_tag``), so a batch
    replayed from the same checkpoint resumes its manifest instead of
    re-merging, and a reset checkpoint or a second stream (a new query
    id) never aliases it. No output is at-least-once. Scale shape: the
    recompute scans only the touched conversations (semi-join; Iceberg
    conv-bucket pruning at the real target — the full-history read
    here is the parquet stand-in's cost, not the design's)."""
    from ..plans import pipeline as pl

    def process(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch.sparkSession
        # in-batch duplicates (producer retries landing in ONE trigger)
        # must collapse too, or the turns table holds two copies of a
        # key forever and every recompute diverges from the batch twin;
        # (ts, text) tiebreak keeps the dedup deterministic
        batch = (
            batch.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("conv_id", "turn_idx").orderBy(
                        F.col("ts"), F.col("text")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .transform(snapshot)
        )
        if batch.isEmpty():
            return
        run_id = "sb" + _batch_tag(checkpoint, batch_id).replace(":", "-")
        cat = Catalog(spark, out_root)
        if cat.exists("turns"):
            novel = batch.join(
                cat.read("turns").select("conv_id", "turn_idx"),
                ["conv_id", "turn_idx"],
                "left_anti",
            )
            cat.append(novel, "turns")
        else:
            cat.write(batch, "turns")
        turns = cat.read("turns")
        keys = batch.select("conv_id").distinct()
        pl.run_incremental(
            spark,
            turns,
            pl.PipelineConfig(out_root=out_root, run_id=run_id),
            keys,
            tool_meta=tool_meta,
            role_meta=role_meta,
        )

    return _start(stream, process, checkpoint, available_now)


def stream_windowed_metrics(
    stream: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Event-time metrics over the live turn stream: per (window, role)
    turn counts + distinct-ish conversation bounds, with a watermark so
    state is bounded and late data has defined semantics — rows later
    than ``watermark_delay`` behind the max seen ``ts`` are dropped
    (the streaming analog of the batch `_metrics` table; the reference
    logs per-message success counts, producers.go:882-884).

    Append output mode: a window emits ONCE, when the watermark passes
    its end — late-but-within-delay rows still count (they arrive
    before finalization), later ones don't. State per (window, role) is
    a handful of aggregates; the watermark is what makes that state
    droppable at 100 TB/day ingest instead of growing forever.

    Timing note (measured on 4.1): stateful operators apply the
    watermark COMMITTED at query start, so within one availableNow run
    late rows a batch behind the data max still land; across restarts
    (or in a long-running query, across triggers) the bound is
    enforced — see test_stream_windowed_metrics_watermark_drops_late_rows."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.min("conv_id").alias("min_conv_id"),
            F.max("conv_id").alias("max_conv_id"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "role",
            "n_turns",
            "min_conv_id",
            "max_conv_id",
        )
    )


def stream_session_stats(
    stream: DataFrame,
    key_col: str = "conv_id",
    gap: str = "30 minutes",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Sessionization over the live stream via Spark's native
    session_window — the streaming form of operators/sessionize (same
    gap rule: an event exactly ``gap`` after the previous one merges).
    Dynamic-gap session state is exactly what hand-rolled streaming
    sessionizers get wrong; here the engine owns merge + eviction: a
    session's state is dropped (and its one append-mode row emitted)
    when the watermark passes session end. Same bounded-state argument
    as stream_windowed_metrics, but per (key, session) instead of per
    fixed window."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.col(key_col), F.session_window("ts", gap).alias("sess"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            key_col,
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_turns",
        )
    )


DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a document directory."""
    return _read_file_stream(spark, DOC_STREAM_SCHEMA, path, max_files_per_trigger)


def run_stream_dedup(
    doc_stream: DataFrame,
    state_root: str,
    out_root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = False,
):
    """Continuous near-dup gate: each micro-batch of new documents is
    LSH-probed against the STORED band index
    (:func:`..functions.dedup.minhash_band_table`); novel docs and
    their bands are appended, dups are routed out with the matched
    pair. The streaming form of ``minhash_lsh_candidates_incremental``
    — the corpus is never rescanned; per-batch work is batch-size ×
    bucket occupancy.

    Tables, all append logs: ``state_root``/``band_index`` (seed it
    with ``Catalog.write`` to gate against an existing corpus);
    ``out_root``/``clean`` (the novel docs) and
    ``out_root``/``dup_rejects`` (``id_col``, ``matched_id``).

    Drop rule (matches the batch cluster canonical rule "keep the min
    member"): a new doc drops if it band-matches any indexed doc, or a
    smaller-id doc of the same batch.

    The one consumer without a replay guard: its only state is
    ``band_index``, which users seed with ``Catalog.write``. A replayed
    batch re-appends identical rows to all three logs (at-least-once)
    but never makes a different decision: its survivors are then in
    the index, and a doc never matches its own id. On the real target
    the three appends become one Iceberg transaction (catalog.py
    mapping) for exactly-once."""
    from ..functions import dedup as dd

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        state = Catalog(spark, state_root)
        out = Catalog(spark, out_root)
        batch = batch.transform(snapshot)  # stabilize: read twice below

        # band the batch ONCE: the same table feeds candidate probing
        # AND the index append (the shingle+minhash pass is the
        # dominant per-batch cost — recomputing it doubled it)
        new_bands = dd.minhash_band_table(
            batch, id_col=id_col, text_col=text_col
        ).transform(snapshot)
        idx = (
            state.read("band_index")
            if state.exists("band_index")
            else new_bands.limit(0)  # empty index, same schema
        )
        cand = dd.minhash_lsh_candidates_incremental(
            batch, idx, id_col=id_col, text_col=text_col, new_bands=new_bands
        )

        new_ids = batch.select(F.col(id_col).alias("_nid")).distinct()
        nb = new_ids.select(
            F.col("_nid").alias("doc_b"), F.lit(True).alias("_bn")
        )
        # doc_a < doc_b always: if doc_b is new it loses to the smaller
        # (or already-indexed) doc_a; else doc_a is the new side
        dup = (
            cand.join(nb, "doc_b", "left")
            .select(
                F.when(F.col("_bn").isNotNull(), F.col("doc_b"))
                .otherwise(F.col("doc_a"))
                .alias("_dup"),
                F.when(F.col("_bn").isNotNull(), F.col("doc_a"))
                .otherwise(F.col("doc_b"))
                .alias("matched_id"),
            )
        )
        # one materialization feeds the three appends and their probes
        first_match = (
            dup.groupBy("_dup")
            .agg(F.min("matched_id").alias("matched_id"))
            .transform(snapshot)
        )
        dup_ids = first_match.select(F.col("_dup").alias(id_col))

        _append_log(out, batch.join(dup_ids, id_col, "left_anti"), "clean")
        # index append reuses the batch's bands (no re-hash): keep only
        # the surviving docs' rows
        _append_log(
            state, new_bands.join(dup_ids, id_col, "left_anti"), "band_index"
        )
        _append_log(
            out,
            batch.join(first_match.withColumnRenamed("_dup", id_col), id_col)
            .select(id_col, "matched_id"),
            "dup_rejects",
        )

    return _start(doc_stream, process, checkpoint, available_now)


# ------------------------------------------------------- stateful mode
STATE_SCHEMA = (
    "turn_idxs array<int>, event_ids array<string>, parents array<string>, "
    "n_expected int"
)
EMIT_SCHEMA = (
    "conv_id string, n_turns int, verified boolean, timed_out boolean, "
    "event_ids array<string>"
)


def _chain_complete(turns: list[int], parents: dict[int, str], ids: dict[int, str]) -> bool:
    """Straight-line bidirectional balance: contiguous turn_idx from 0
    and each turn's parent == previous turn's event id."""
    s = sorted(turns)
    if not s or s[0] != 0 or s != list(range(s[0], s[0] + len(s))):
        return False
    for k in s:
        want = "" if k == 0 else ids[k - 1]
        if parents.get(k, "") != want:
            return False
    return True


def _make_verify_group(timeout_ms: int):
    def _verify_group(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key

        if state.hasTimedOut:
            # G5: emit whatever was collected, flagged unverified
            turn_idxs, event_ids, parents, _ = state.get
            state.remove()
            # first-delivery canonical + distinct-turn count, matching
            # the verified branch's semantics for the same columns
            first: dict[int, str] = {}
            for k, eid in zip(turn_idxs, event_ids):
                if k not in first:
                    first[k] = eid
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [len(first)],
                    "verified": [False],
                    "timed_out": [True],
                    "event_ids": [[first[k] for k in sorted(first)]],
                }
            )
            return

        turn_idxs, event_ids, parents, n_expected = (
            state.get if state.exists else ([], [], [], None)
        )
        turn_idxs, event_ids, parents = list(turn_idxs), list(event_ids), list(parents)
        for pdf in pdfs:
            for t in pdf.itertuples(index=False):
                # a NULL turn_idx arrives as NaN through Arrow; int(nan)
                # would raise and crash-loop the micro-batch (the
                # checkpoint replays the same offsets forever) — skip
                # the unplaceable row instead, like n_expected below
                if t.turn_idx is None or pd.isna(t.turn_idx):
                    continue
                turn_idxs.append(int(t.turn_idx))
                event_ids.append(t.event_id or "")
                parents.append(t.parent_event_id or "")
                if t.n_expected is not None and not pd.isna(t.n_expected):
                    n_expected = int(t.n_expected)

        # FIRST delivery is canonical (groupandverify.go:839-861): build
        # the maps so earlier arrivals win — a corrupt re-delivery of an
        # already-seen turn must not overwrite the good copy
        ids: dict[int, str] = {}
        pmap: dict[int, str] = {}
        for k, eid, par in zip(turn_idxs, event_ids, parents):
            if k not in ids:
                ids[k] = eid
                pmap[k] = par
        complete = (
            n_expected is not None
            and len(set(turn_idxs)) >= n_expected
            and _chain_complete(list(set(turn_idxs)), pmap, ids)
        )
        if complete:
            # verified tree → emit once, drop state (early-exit, G6)
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [len(set(turn_idxs))],
                    "verified": [True],
                    "timed_out": [False],
                    "event_ids": [[ids[k] for k in sorted(ids)]],
                }
            )
        else:
            state.update((turn_idxs, event_ids, parents, n_expected))
            state.setTimeoutDuration(timeout_ms)
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series([], dtype="object"),
                    "n_turns": pd.Series([], dtype="int64"),
                    "verified": pd.Series([], dtype="bool"),
                    "timed_out": pd.Series([], dtype="bool"),
                    "event_ids": pd.Series([], dtype="object"),
                }
            )

    return _verify_group


def stateful_group_verify(parsed_stream: DataFrame, timeout_ms: int = 2000) -> DataFrame:
    """GroupAndVerify's actor-per-tree with timeout, as
    applyInPandasWithState keyed by conv_id.

    Input: parsed streaming rows with (conv_id, turn_idx, event_id,
    parent_event_id, n_expected) where n_expected is the conversation's
    expected turn count (the parentVerifySet expected-children analog,
    groupandverify.go:148-183 — in a transcript stream the 'end' turn
    carries the total). Emits one row per completed/timed-out
    conversation."""
    return parsed_stream.groupBy("conv_id").applyInPandasWithState(
        _make_verify_group(timeout_ms),
        outputStructType=EMIT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the raw event log."""
    return _read_file_stream(spark, EVENT_STREAM_SCHEMA, path, max_files_per_trigger)


def stream_rollup(
    stream: DataFrame,
    width: str = "1 hour",
    slide: str | None = None,
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    user_col: str = "user_id",
) -> DataFrame:
    """The streaming port of ``aggregate.rollup_time_windows`` — the
    live half of the continuous aggregate (the batch op is the
    backfill; ``aggregate.rollup_merge`` is the append-batch refresh).

    Reuses the batch op's SHARED window/quantization helpers, so the
    three paths bucket and quantize identically, with the one
    documented semantic difference: streaming state cannot hold an
    exact distinct, so ``n_users_approx`` is ``approx_count_distinct``
    (HLL-sketch state, mergeable and watermark-droppable) — exact
    ``n_users`` stays the batch/merge paths' job. ``n_events`` and
    ``value_sum_micro`` match the batch output exactly.

    Append mode: a window emits once, when the watermark passes its
    end; state is bounded by (watermark horizon / slide) x |keys|.
    """
    from ..operators.aggregate import _value_micro, _win, _win_us

    # cast BEFORE the watermark, and hand _win the bare watermarked
    # column: casting after withWatermark detaches the watermark and
    # append-mode aggregation is rejected
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            _win(F.col(ts_col), width, slide).alias("_w"),
            *[F.col(c) for c in keys],
        )
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct(F.col(user_col)).alias("n_users_approx"),
            F.sum(_value_micro(value_col)).alias("value_sum_micro"),
        )
        .select(*_win_us(), *keys, "n_events", "n_users_approx", "value_sum_micro")
    )


def stream_hll_state(
    stream: DataFrame,
    width: str = "1 hour",
    slide: str | None = None,
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    user_col: str = "user_id",
    p: int = 8,
) -> DataFrame:
    """Streaming HLL register state per rollup grain — the live half of
    the SKETCHED continuous aggregate.

    ``stream_rollup``'s ``approx_count_distinct`` emits only an
    ESTIMATE, which cannot be combined with history; this emits the
    deterministic md5-derived register state itself
    (``functions/sketch.with_register_rho`` + per-register MAX), which
    is bit-identical to what the batch path
    (``operators/aggregate.rollup_users_hll``) produces for the same
    rows. Finalized-window state rows therefore fold EXACTLY into the
    stored state with ``sketch.hll_merge`` — and because the merge is
    an idempotent MAX, a replayed micro-batch cannot corrupt it (the
    lambda handoff the count/sum merge does not survive).

    Append mode: a (window, keys, register) row emits once when the
    watermark passes the window end; state is bounded by
    (watermark horizon / slide) x |keys| x 2^p rows.
    """
    from ..functions.sketch import with_register_rho
    from ..operators.aggregate import _win, _win_us

    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    tagged = with_register_rho(
        stream.withWatermark(ts_col, watermark_delay), user_col, p=p
    )
    return (
        tagged.groupBy(
            _win(F.col(ts_col), width, slide).alias("_w"),
            *[F.col(c) for c in keys],
            F.col("register"),
        )
        .agg(F.max("rho").alias("rho"))
        .select(*_win_us(), *keys, "register", "rho")
    )


def run_stream_anomaly(
    event_stream: DataFrame,
    state_root: str,
    out_root: str,
    checkpoint: str,
    width: str = "1 day",
    key: str = "event_type",
    trail: int = 4,
    nsigma: int = 3,
    watermark_delay: str = "2 hours",
    available_now: bool = False,
):
    """Live log-spike alerting: the streaming port of
    ``profile.anomaly_flags``, sharing the batch operator VERBATIM so
    the live and backfill paths can never disagree on what counts as
    an anomaly (the same lambda-coherence rule as stream_hll_state).

    stream_rollup finalizes (key, window) count rows in append mode at
    the watermark; each foreachBatch unions the finalized delta with
    the STORED rollup state, runs the exact-BIGINT trailing z-test
    over the union, and appends (a) alert rows for anomalous NEW
    windows and (b) the delta itself to the state. The trailing
    baseline of a new window is always complete: append-mode windows
    finalize in watermark order, so every earlier window of the same
    key is already in state or in the same delta.

    Per-batch cost is BOUNDED regardless of stream age: only the
    newest ``trail`` state rows per key can affect a new window's flag
    (anomaly_flags' baseline is the ``trail`` immediately preceding
    rows, and every state row is older than every delta row because
    append-mode windows finalize in watermark order), so the batch
    prunes the stored rollup to |keys| x trail rows before the union —
    the anomaly window never sees the full history, let alone events.

    Tables, both append logs: ``state_root``/``rollup`` (``key``,
    ``window_start_us``, ``n_events``, ``_batch``) and
    ``out_root``/``alerts`` (the ``anomaly_flags`` rows of alerting
    windows).

    Replay: the rollup append is the batch's last commit and carries
    its ``_batch_tag``; a batch replayed after it returns at once, so
    the baseline never double-counts. The alerts append lands before
    it and is the one at-least-once surface (a replay between the two
    re-appends the same alert rows).
    """
    from pyspark.sql import Window

    from ..operators.profile import anomaly_flags

    roll = stream_rollup(
        event_stream, width=width, watermark_delay=watermark_delay,
        keys=(key,),
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = batch.select(
            key, "window_start_us", "n_events"
        ).transform(snapshot)
        if delta.isEmpty():
            return
        tag = _batch_tag(checkpoint, batch_id)
        cat = Catalog(spark, state_root)
        if _replayed(cat, "rollup", tag):
            return
        state = (
            cat.read("rollup").drop("_batch")
            if cat.exists("rollup")
            else delta.limit(0)
        )
        # the newest `trail` windows per key are the only state rows a
        # NEW window's trailing baseline can use
        w_recent = Window.partitionBy(key).orderBy(
            F.col("window_start_us").desc()
        )
        recent = (
            state.withColumn("_rn", F.row_number().over(w_recent))
            .filter(F.col("_rn") <= trail)
            .drop("_rn")
        )
        hist = recent.unionByName(delta)
        flags = anomaly_flags(
            hist, "n_events", by=key, order_col="window_start_us",
            trail=trail, nsigma=nsigma,
        )
        alerts = flags.filter(F.col("anomaly")).join(
            delta.select(key, "window_start_us"),
            [key, "window_start_us"],
            "left_semi",
        ).transform(snapshot)
        _append_log(Catalog(spark, out_root), alerts, "alerts")
        cat.append(delta.withColumn("_batch", F.lit(tag)), "rollup")

    return _start(roll, process, checkpoint, available_now)


def run_stream_counter_rate(
    event_stream: DataFrame,
    state_root: str,
    out_root: str,
    checkpoint: str,
    width: str = "1 hour",
    series_cols: tuple[str, ...] = ("user_id", "event_type"),
    keys: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    available_now: bool = False,
):
    """Live counter rates: the streaming twin of
    ``aggregate.counter_rate``, sharing the batch operator VERBATIM
    (the lambda-coherence rule of run_stream_anomaly / stream_hll_state:
    live and backfill can never disagree on a delta because they run
    the same code).

    The only state a reset-aware rate needs is each series' LAST
    sample. Per micro-batch:

    1. read the stored per-series last-sample table (Catalog — atomic
       replace, so a crash leaves the previous state intact);
    2. rows at or before their series' stored sample are LATE under
       the PromQL scrape-order contract (a counter's samples arrive in
       order per series; a late sample would lag against the wrong
       neighbor) — routed to the ``late`` log, never silently
       mis-lagged;
    3. union state rows with the fresh rows and run the batch
       ``counter_rate`` unchanged: a state row has no predecessor in
       the union so it emits NO delta of its own, but it IS the lag
       donor for the series' first fresh sample — the cross-batch
       delta falls out of the operator's own null-prev rule;
    4. append the per-window increments to the ``increase`` log (sums
       are mergeable; ``read_counter_rates`` folds the log), and
       REPLACE the state with the new per-series last samples, tagged
       with the batch's ``_batch_tag``.

    Tables: ``state_root``/``series_last`` (replaced per batch: each
    series' last sample plus ``_batch``); ``out_root``/``late`` and
    ``out_root``/``increase`` (append logs).

    State is one row per live series — the minimum any reset-aware
    rate can hold — and per-batch cost is batch-size + |series|,
    independent of stream age. A batch replayed after its state
    replace finds its tag there and returns instead of routing its own
    samples to ``late``. The ``late`` and ``increase`` appends land
    before the replace and are the at-least-once surface (a crash
    between them re-appends the batch's rows); on the real target the
    increase append is an Iceberg MERGE at (keys, window) grain (the
    rollup_merge mapping) for exactly-once.
    """
    from ..operators.aggregate import counter_rate

    cols = [*series_cols, ts_col, tiebreak_col, value_col]

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.withColumn(
            ts_col, F.col(ts_col).cast("timestamp")
        ).transform(snapshot)
        if batch.isEmpty():
            return
        tag = _batch_tag(checkpoint, batch_id)
        cat = Catalog(spark, state_root)
        if _replayed(cat, "series_last", tag):
            return
        out = Catalog(spark, out_root)
        state = (
            cat.read("series_last").select(*cols)
            if cat.exists("series_last")
            else batch.select(*cols).limit(0)
        )

        st = state.select(
            *[F.col(c).alias(f"_s_{c}") for c in series_cols],
            F.col(ts_col).alias("_s_ts"),
            F.col(tiebreak_col).alias("_s_tb"),
        )
        joined = batch.select(*cols).join(
            st, [F.col(c) == F.col(f"_s_{c}") for c in series_cols], "left"
        )
        is_late = F.col("_s_ts").isNotNull() & (
            (F.col(ts_col) < F.col("_s_ts"))
            | (
                (F.col(ts_col) == F.col("_s_ts"))
                & (F.col(tiebreak_col) <= F.col("_s_tb"))
            )
        )
        joined = joined.withColumn("_late", is_late).transform(snapshot)
        _append_log(out, joined.filter("_late").select(*cols), "late")
        fresh = joined.filter(~F.col("_late")).select(*cols)

        union = state.unionByName(fresh).transform(snapshot)
        increase = counter_rate(
            union,
            series_cols=series_cols,
            ts_col=ts_col,
            value_col=value_col,
            tiebreak_col=tiebreak_col,
            width=width,
            keys=keys,
        ).transform(snapshot)
        _append_log(out, increase, "increase")

        new_state = (
            union.groupBy(*[F.col(c) for c in series_cols])
            .agg(F.max(F.struct(ts_col, tiebreak_col, value_col)).alias("_m"))
            .select(
                *series_cols,
                F.col(f"_m.{ts_col}").alias(ts_col),
                F.col(f"_m.{tiebreak_col}").alias(tiebreak_col),
                F.col(f"_m.{value_col}").alias(value_col),
                F.lit(tag).alias("_batch"),
            )
        )
        cat.write(new_state, "series_last")

    return _start(event_stream, process, checkpoint, available_now)


def read_counter_rates(
    spark: SparkSession, out_root: str, keys: tuple[str, ...] = ("event_type",)
) -> DataFrame:
    """Fold ``run_stream_counter_rate``'s mergeable ``increase`` log
    under ``out_root`` to final per-window rates — identical output
    columns to the batch ``counter_rate``."""
    inc = Catalog(spark, out_root).read("increase")
    return inc.groupBy(
        "window_start_us", "window_end_us", *[F.col(k) for k in keys]
    ).agg(
        F.sum("increase_micro").alias("increase_micro"),
        F.sum("n_deltas").alias("n_deltas"),
    )


def stream_correlate(
    request_stream: DataFrame,
    response_stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    horizon_sec: int = 7200,
    watermark_delay: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Live request/response correlation: the streaming port of
    ``enrich.request_response_join``, as a NATIVE watermarked
    stream-stream join — same output schema and pairing rule
    (``req_ts <= resp_ts < req_ts + horizon``), so live attribution and
    batch backfill agree (the module's standing lambda-coherence rule).

    Both sides are watermarked and the join carries an event-time range
    condition, which is exactly what Structured Streaming needs to
    BOUND the join state itself: a buffered request is dropped once the
    watermark passes ``req_ts + horizon``, a buffered response once it
    passes ``resp_ts`` — state per side ~ arrival rate x (watermark
    delay + horizon), independent of stream length. ``how="leftOuter"``
    emits a request with null response columns once its horizon expires
    below the watermark — live request-timeout alerts, the streaming
    twin of the batch op's leftOuter.

    Scale shape: the join is hash-partitioned on the equi-key across
    executors (same exchange as every keyed stage); RocksDB state store
    is the production knob for large horizons.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"stream_correlate: how={how!r}")
    req = (
        request_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark_delay)
        .select(
            F.col(key_col),
            F.col(id_col).alias("req_event_id"),
            F.col(ts_col).alias("_rr_req_ts"),
        )
    )
    resp = (
        response_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark_delay)
        .select(
            F.col(key_col).alias("_rr_key"),
            F.col(id_col).alias("resp_event_id"),
            F.col(ts_col).alias("_rr_resp_ts"),
        )
    )
    cond = (
        (F.col(key_col) == F.col("_rr_key"))
        & (F.col("_rr_resp_ts") >= F.col("_rr_req_ts"))
        & (
            F.col("_rr_resp_ts")
            < F.col("_rr_req_ts") + F.expr(f"INTERVAL {int(horizon_sec)} SECOND")
        )
    )
    return req.join(resp, cond, how).select(
        key_col,
        "req_event_id",
        F.unix_micros("_rr_req_ts").alias("req_ts_us"),
        "resp_event_id",
        F.unix_micros("_rr_resp_ts").alias("resp_ts_us"),
        (
            F.unix_micros("_rr_resp_ts") - F.unix_micros("_rr_req_ts")
        ).alias("latency_us"),
    )


def stream_exact_dedup(
    stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Native streaming exact dedup: keep the FIRST arrival per key,
    drop re-deliveries — the engine-state form of the reference's
    ack-after-downstream-success admission guard (at-least-once
    sources re-deliver; Server/consumers.go:638-651 acks late for
    exactly this reason). ``dropDuplicatesWithinWatermark`` holds
    per-key state only until the watermark passes the first arrival's
    event time + delay, so state is bounded by arrival rate x horizon
    — a plain streaming ``dropDuplicates`` never evicts and grows
    forever. The complement of the LSH gate: ``run_stream_dedup``
    drops NEAR-duplicates against a persistent index; this drops
    exact replays with zero external state, and belongs in front of
    any at-least-once ingest (a replay older than the horizon is
    admitted again — size the delay to the source's redelivery
    window)."""
    return (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(list(keys))
    )


def run_stream_burn_rate(
    event_stream: DataFrame,
    state_root: str,
    out_root: str,
    checkpoint: str,
    error_col: str = "is_error",
    budget_ppm: int = 1000,
    short_width: str = "1 hour",
    long_width: str = "1 day",
    short_factor: int = 14,
    long_factor: int = 3,
    key_col: str = "event_type",
    ts_col: str = "ts",
    watermark_delay: str = "2 hours",
    available_now: bool = False,
):
    """Live SLO burn-rate alerting: the streaming twin of
    ``aggregate.burn_rate_alerts``, sharing the alert CORE
    (``aggregate.burn_rate_from_short``) VERBATIM — what counts as a
    burn (the integer cross-multiplications, the window grains) can
    never drift between live and backfill because both run the same
    code. The alert SETS are not identical by construction: each
    micro-batch pages on long-window totals FINALIZED SO FAR (a 30%
    hour pages immediately even though the full day may dilute to 1% —
    the standard live-SLO semantics: a burn you can see is a burn you
    page on), while the batch operator is the after-the-fact truth
    over complete windows. They coincide when burn ratios are stable
    within the long window (the property the stream-equals-batch test
    pins on a ratio-stable fixture).

    The stream half aggregates (key, short-window) error/total counts
    in append mode (a window finalizes once, at the watermark); each
    foreachBatch then:

    1. prunes the stored short-rollup state to the LONG windows the
       delta touches — bounded by |touched long windows| x |keys| x
       (long/short) rows;
    2. unions pruned state + delta and runs the batch alert core
       unchanged;
    3. appends alerts for DELTA windows only (state rows already had
       their chance — left_semi);
    4. REPLACES the state (Catalog atomic swap, same mechanics as
       run_stream_counter_rate) with the retained rows: long windows
       older than one long_width behind the delta's newest can never
       be touched again (short windows finalize in watermark order),
       so state stays bounded by ~2 long windows x |keys| x
       (long/short) rows however old the stream is. The replace
       dedups on (key, window) — and the alert INPUT dedups the same
       way, so a second query over the same roots, which re-finalizes
       windows the state holds, reconverges to the same state and the
       same decisions.

    Replay: the state replace is the batch's last commit and carries
    its ``_batch_tag``; a batch replayed after it returns at once. The
    alert append lands before it and is the one at-least-once surface
    (duplicate alert ROWS, never wrong ones); the real target makes it
    an Iceberg MERGE on (key, window) for exactly-once.

    Tables: ``state_root``/``short_rollup`` (replaced per batch:
    ``window_start_us``, ``key_col``, ``errors``, ``total``,
    ``_batch``) and ``out_root``/``alerts`` (append log of
    ``burn_rate_from_short`` rows)."""
    from ..operators.aggregate import (
        _validate_aligned_widths,
        _win,
        burn_rate_from_short,
    )

    long_us = _validate_aligned_widths(short_width, long_width)

    stream = event_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    err = F.when(F.col(error_col), F.lit(1)).otherwise(F.lit(0))
    short = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            _win(F.col(ts_col), short_width, None).alias("_w"),
            F.col(key_col),
        )
        .agg(F.sum(err).alias("errors"), F.count("*").alias("total"))
        .select(
            F.unix_micros(F.col("_w.start")).alias("window_start_us"),
            key_col,
            "errors",
            "total",
        )
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = batch.transform(snapshot)
        if delta.isEmpty():
            return
        tag = _batch_tag(checkpoint, batch_id)
        cat = Catalog(spark, state_root)
        if _replayed(cat, "short_rollup", tag):
            return
        state = (
            cat.read("short_rollup").drop("_batch")
            if cat.exists("short_rollup")
            else delta.limit(0)
        )
        with_ws = lambda df: df.withColumn(  # noqa: E731
            "_ws", F.timestamp_micros(F.col("window_start_us"))
        )
        # state rows matter only inside the long windows this delta
        # touches (the long grain is a function of the short start)
        touched = (
            with_ws(delta)
            .select(_win("_ws", long_width, None).start.alias("_tl"))
            .distinct()
        )
        pruned = (
            with_ws(state)
            .withColumn("_sl", _win("_ws", long_width, None).start)
            .join(
                F.broadcast(touched), F.col("_sl") == F.col("_tl"), "left_semi"
            )
            .drop("_sl")
        )
        # dedup on (key, window) BEFORE totalling: under a second
        # query over the same roots the pruned state already holds
        # this delta's windows, and a doubled short would shift the
        # long-window ratio enough to flip an alert near the threshold
        hist = (
            pruned.unionByName(with_ws(delta))
            .dropDuplicates([key_col, "window_start_us"])
            .drop("window_start_us")
        )
        alerts = burn_rate_from_short(
            hist, budget_ppm, long_width, short_factor, long_factor, key_col
        ).join(
            delta.select(key_col, "window_start_us"),
            [key_col, "window_start_us"],
            "left_semi",
        ).transform(snapshot)
        _append_log(Catalog(spark, out_root), alerts, "alerts")
        # retained state: only long windows >= one long_width behind
        # the newest delta window can still be touched (watermark
        # order); dedup on (key, window) makes a second query over the
        # same roots reconverge instead of double-count
        horizon = (
            delta.agg(F.max("window_start_us").alias("_m"))
            .select((F.col("_m") - 2 * long_us).alias("_h"))
        )
        new_state = (
            state.unionByName(delta)
            .dropDuplicates([key_col, "window_start_us"])
            .join(F.broadcast(horizon))
            # null-horizon guard: an all-null-timestamp delta must
            # prune nothing, not NULL-out the compare and drop all
            # retained windows
            .filter(
                F.col("_h").isNull()
                | (F.col("window_start_us") >= F.col("_h"))
            )
            .drop("_h")
            .withColumn("_batch", F.lit(tag))
        )
        cat.write(new_state, "short_rollup")

    return _start(short, process, checkpoint, available_now)


def run_stream_rate_limit(
    event_stream: DataFrame,
    state_root: str,
    out_root: str,
    checkpoint: str,
    max_per_window: int,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    width: str = "1 hour",
    available_now: bool = False,
):
    """Live per-key throttle: the streaming twin of
    ``templates.rate_limit``. The semantic difference is the admission
    ORDER, and it is inherent, not an implementation accident: a live
    shipper must decide per arrival, so it admits the first
    ``max_per_window`` rows per (key, window) in ARRIVAL order (within
    a micro-batch, (ts, id) — the batch operator's order — breaks
    ties), while the batch operator re-run over the full log admits
    the first N in (ts, id) order. Counts per grain agree exactly
    (both cap at N, both census-reconcile); the admitted SETS can
    differ when late rows with earlier timestamps arrive after a grain
    filled — the standard throttle trade-off, documented rather than
    hidden.

    State = an admission log: one row per (key, window, ``_batch``)
    holding that batch's admitted count, replaced atomically per batch
    (Catalog swap). A grain's carried-in quota (_base) sums the log. The
    replace is the batch's last commit and ``_batch`` is its
    ``_batch_tag``: a batch replayed after it returns at once, and one
    replayed before it finds none of its own rows in the log, so it
    recomputes the same _base and the same decisions. The kept / census
    appends land before the replace and are the at-least-once surface —
    duplicate ROWS on replay, never different ones — an Iceberg MERGE at
    the real target. The log is pruned to windows within 2 x width of
    the newest window the stream has admitted into (older windows are
    watermark-passed and can never fill further; a straggler past the
    horizon gets a fresh quota — the documented staleness trade-off), so
    state stays bounded by live grains x touching batches. NULL KEYS
    match their state rows null-safely — a NULL key is one grain, capped
    like any other, exactly as the batch operator's groupBy treats it.
    NULL event times are window-filtered by Spark's time window in BOTH
    twins (defined semantics); an all-null-timestamp batch therefore
    yields an empty census and a NULL horizon, which the prune guards
    against (prunes nothing) instead of NULLing the compare and wiping
    the admission log.

    Tables: ``state_root``/``admitted`` (the log above, replaced per
    batch); append logs ``out_root``/``kept`` (admitted rows with their
    ``sample_rank``) and ``out_root``/``census`` (per-batch (key,
    window, n_total, n_kept, n_dropped) deltas that SUM to the batch
    operator's census — counts are mergeable)."""
    from ..operators.aggregate import _width_us, _win

    if max_per_window < 1:
        raise ValueError(
            f"max_per_window must be >= 1, got {max_per_window}"
        )
    width_us = _width_us(width)

    stream = event_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.withColumn(
            "window_start_us",
            F.unix_micros(_win(ts_col, width, None).start),
        ).transform(snapshot)
        if batch.isEmpty():
            return
        tag = _batch_tag(checkpoint, batch_id)
        cat = Catalog(spark, state_root)
        if _replayed(cat, "admitted", tag):
            return
        state = (
            cat.read("admitted")
            if cat.exists("admitted")
            else batch.select(key_col, "window_start_us").limit(0)
            .withColumn("_batch", F.lit(None).cast("string"))
            .withColumn("n_kept", F.lit(0).cast("bigint"))
        )
        base = (
            state.groupBy(
                F.col(key_col).alias("_sk"),
                F.col("window_start_us").alias("_sw"),
            )
            .agg(F.sum("n_kept").alias("_base0"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy(key_col, "window_start_us").orderBy(
            F.col(ts_col), F.col(id_col)
        )
        ranked = (
            batch.withColumn("_rn", F.row_number().over(w))
            .join(
                base,
                F.col(key_col).eqNullSafe(F.col("_sk"))
                & F.col("window_start_us").eqNullSafe(F.col("_sw")),
                "left",
            )
            .withColumn("_base", F.coalesce(F.col("_base0"), F.lit(0)))
            .drop("_sk", "_sw", "_base0")
            .transform(snapshot)
        )
        out = Catalog(spark, out_root)
        kept = ranked.filter(F.col("_rn") + F.col("_base") <= max_per_window)
        _append_log(
            out,
            kept.withColumn(
                "sample_rank", (F.col("_rn") + F.col("_base")).cast("int")
            ).drop("_rn", "_base"),
            "kept",
        )
        census_delta = (
            ranked.groupBy(key_col, "window_start_us", "_base")
            .agg(F.count("*").alias("n_total"))
            .select(
                key_col,
                "window_start_us",
                "n_total",
                F.least(
                    F.col("n_total"),
                    F.greatest(
                        F.lit(max_per_window) - F.col("_base"), F.lit(0)
                    ),
                ).alias("n_kept"),
            )
            .withColumn("n_dropped", F.col("n_total") - F.col("n_kept"))
            .transform(snapshot)
        )
        _append_log(out, census_delta, "census")
        # add this batch's log rows and prune grains past the 2 x width
        # horizon behind the newest window this batch touched
        # (prune-less-never-more: a batch of only-old windows computes
        # a lower horizon and prunes nothing)
        horizon = (
            census_delta.agg(F.max("window_start_us").alias("_m"))
            .select((F.col("_m") - 2 * width_us).alias("_h"))
        )
        new_state = (
            state.unionByName(
                census_delta.select(
                    key_col,
                    "window_start_us",
                    F.lit(tag).alias("_batch"),
                    F.col("n_kept"),
                )
            )
            .join(F.broadcast(horizon))
            # a batch whose every row has a NULL event time yields a
            # NULL horizon; without the _h null-guard the >= compare
            # is NULL for every real-window row and the whole
            # admission log would be silently dropped (quotas reset)
            .filter(
                F.col("_h").isNull()
                | F.col("window_start_us").isNull()
                | (F.col("window_start_us") >= F.col("_h"))
            )
            .drop("_h")
        )
        cat.write(new_state, "admitted")

    return _start(stream, process, checkpoint, available_now)
