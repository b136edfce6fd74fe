"""The full DAG: parse → enrich → verify → sequence → route → aggregate.

Default execution is SINGLE-PASS: the whole pipeline is ONE linear
Catalyst plan — scan → parse (codegen regex) → chain-verify window →
broadcast enrich → sequence windows → reject-sink routing → one
dynamic-partition write — with exactly ONE data shuffle (on conv_id,
shared by every window via the hash-partitioning subset rule) and NO
cached/persisted intermediates. Parse rejects and unroutable rows are
ROUTED (reserved ``__reject_*`` sink partitions) instead of forked into
a second plan branch, then split out of the written output with
metadata-only directory renames; metrics/lineage/row-count derive from
cheap column-pruned scans of the written (column-compressed,
partition-pruned) output rather than extra passes over cached data.

Why this shape at 100 TB: you cannot cache the working set, so every
``persist()`` becomes a second full materialization, and every extra
action re-pays job fixed costs. One pass over the input + O(metadata)
post-processing is the scalable form — and it is exactly the reference's
shape too: each message flows consumer → transform → producer once
(Server/server.go:74-105), with rejects peeled off to the DLQ in-line
(Server/consumers.go:776-827).

The hot-conversation skew mode (``hot_block_size``) runs through the
same single-pass executor with the block-salted operators: per-task
work is bounded by block size instead of conversation length, and the
small carry/flag side-branches re-derive narrow columns (reused
exchanges + column-pruned re-parse) instead of persisting anything.
Measured guidance: the default window path is FASTER until individual
conversations reach ~10^7 turns (a 300k-turn conversation sorts in-task
without trouble); reserve hot mode for genuinely pathological tails.

This is the lifecycle contrast documented in SURVEY §3.5; the stages
correspond 1:1 to the reference's three services plus routing/metrics.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ..snapshot import snapshot
from .. import datagen
from ..operators import aggregate as agg_op
from ..operators import enrich as enrich_op
from ..operators import parse as parse_op
from ..operators import route as route_op
from ..operators import sequence as seq_op
from ..operators import verify as verify_op
from ..sources.catalog import Catalog
from ..sources.manifest import RunManifest

KNOWN_SINKS = [
    "sink_search", "sink_code", "sink_db", "sink_misc",
    "sink_user", "sink_assistant", "sink_tool",
]

OUTPUT_COLS = [
    "conv_id", "turn_idx", "role", "tool", "sink",
    "event_id", "event_type", "parent_event_id",
    "job_name", "application_name",
    "previous_event_ids", "verified", "sequenceable", "is_duplicate",
    "text",
]

REJECT_COLS = ["conv_id", "turn_idx", "text", "reject_reason"]


@dataclass
class PipelineConfig:
    """Mirrors the reference's AppConfig surface
    (Server/setupServers.go:80-139; Sequencer config sequencer.go:182-251)."""

    out_root: str = "/tmp/otel2pv_out"
    # extraction rule set for the parse stage (None = default_rules).
    # Replayable config: fixing a rule and re-running the DLQ is
    # replay_rejects() — the reference's reprocess-the-dead-letter
    # workflow (invalid messages park with their raw payload,
    # Server/consumers.go:776-790, and re-enter after a config fix).
    parse_rules: list | None = None
    seq_array_mode: bool = True            # outputAppSequenceFieldType, sequencer.go:251
    seq_out_col: str = "previous_event_ids"
    seq_id_map_col: str | None = None      # outputAppFieldSequenceIdMap
    gap_reset: bool = True
    group_applies: list[tuple[str, str, str]] = field(default_factory=list)
    # (share_col, identifying_col, identifying_value) — sequencer.go:124-170
    # hot-conversation skew path: when set, the sequence stage windows
    # over (conv_id, floor(turn_idx / hot_block_size)) blocks with a
    # carry-in join instead of whole-conversation partitions — bounds
    # per-task work by block size (sequence_window_salted)
    hot_block_size: int | None = None
    # general-tree mode: sequence via the applyInPandas post-order DFS
    # kernel (the reference Sequencer's default shape,
    # sequencer.go:491-538) instead of the window fast path — for
    # carriers whose turns form real trees (tool-call subtrees)
    tree_mode: bool = False
    run_id: str | None = None
    # manifest-level data skipping (opt-in):
    # columns whose per-entry [min, max] each sink commit records, so
    # later selective reads via Catalog.read(where=...) prune whole
    # entries before the scan is planned (catalog.py stats docs). Off
    # by default — recording costs one small agg per committed batch.
    stats_columns: tuple[str, ...] = ()


def _apply_sequence(
    enriched: DataFrame, cfg: PipelineConfig, ok_col: str | None = None
) -> DataFrame:
    kwargs = dict(
        seq_id_map_col=cfg.seq_id_map_col,
        out_col=cfg.seq_out_col,
        array_mode=cfg.seq_array_mode,
        gap_reset=cfg.gap_reset,
        # parent_event_id included so the conflict definition matches
        # tree_mode's kernel deep-compare (child_ids + payload, Q1)
        dup_compare_cols=("role", "text", "tool", "parent_event_id"),
    )
    if cfg.hot_block_size:
        seq = seq_op.sequence_window_salted(
            enriched, cfg.hot_block_size, ok_col=ok_col, **kwargs
        )
    else:
        seq = seq_op.sequence_window(enriched, ok_col=ok_col, **kwargs)
    for share, ident, value in cfg.group_applies:
        seq = seq_op.group_applies(seq, share, ident, value, ok_col=ok_col)
    return seq


def _apply_tree_sequence(parsed: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Sequence through the general-tree DFS kernel (Q7 case b), wired
    into the pipeline: valid rows become NODE_SCHEMA nodes, the kernel
    emits per-node prev links, and the links join back to every row.

    Tree orientation: each turn's CHILD list is its declared previous
    event (the OTel parent span ends last; the earlier turn is the
    child that finishes first), so post-order DFS emission IS turn
    order and the prev link is the previous valid turn — matching the
    window fast path, including the missing-turn prev reset
    (the dummy-child semantics, sequencer.go:519-529,761-763). A turn
    whose text encodes real tool-call subtree links gets genuine tree
    sequencing through the same path.

    Node mapping for duplicate semantics: app_json carries the parsed
    payload (event_id/event_type/job/app/text/tool), node_type the
    role, and timestamp is 0 — "absent" per the reference (optional
    field, sequencer.go:975-977): the carrier has no event-claimed
    time, and mapping arrival position into it would make a
    redelivered duplicate spuriously unequal under the kernel's deep
    compare (Q1). With this mapping both modes flag a duplicate
    conflict iff payload or parent linkage differs (the kernel
    compares child_ids + app_json; the window path compares
    role/text/tool/parent_event_id).

    Scale shape: one conv-bucket shuffle into the Arrow kernel, then a
    (conv_id, node_id) equi-join back — AQE broadcasts the link side
    when small, sort-merge otherwise; no driver collection. Honest
    cost vs the window path: the input is SCANNED TWICE (narrow
    node columns into the kernel; full payload on the join side).
    Columnar scans make the second read cheap relative to persisting
    the parsed table (which would materialize text twice); this is the
    standard shape for a grouped-kernel stage that must rejoin full
    payloads."""
    from ..operators import sequence_tree as tree_seq_op

    if not cfg.gap_reset:
        raise ValueError(
            "tree_mode: gap_reset=False is not expressible — the DFS "
            "kernel's missing-child dummy ALWAYS resets prev "
            "(sequencer.go:519-529); use the window path for that config"
        )
    _APP_FIELDS = (
        "event_id", "event_type", "job_name", "application_name", "text", "tool"
    )
    if cfg.seq_id_map_col is not None and cfg.seq_id_map_col not in _APP_FIELDS:
        raise ValueError(
            f"tree_mode: seq_id_map_col={cfg.seq_id_map_col!r} is not a "
            f"payload field the kernel nodes carry ({_APP_FIELDS})"
        )
    nodes = parsed.filter(F.col("parse_ok")).select(
        "conv_id",
        F.col("event_id").alias("node_id"),
        F.lit("").alias("parent_id"),
        F.when(
            F.col("parent_event_id") != "", F.array("parent_event_id")
        ).otherwise(F.array().cast("array<string>")).alias("child_ids"),
        F.col("role").alias("node_type"),
        F.lit(0).cast("long").alias("timestamp"),
        F.create_map(
            F.lit("event_id"), F.col("event_id"),
            F.lit("event_type"), F.col("event_type"),
            F.lit("job_name"), F.col("job_name"),
            F.lit("application_name"), F.col("application_name"),
            F.lit("text"), F.col("text"),
            F.lit("tool"), F.col("tool"),
        ).alias("app_json"),
        F.col("turn_idx").cast("long").alias("arrival_pos"),
    )
    # conversations hash into 8 kernel buckets per shuffle partition, so
    # one Arrow batch amortizes the per-group Python invocation cost
    # across thousands of small conversations
    buckets = 8 * int(
        parsed.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    kcfg = tree_seq_op.TreeSequencerConfig(seq_id_map_field=cfg.seq_id_map_col)
    links = (
        tree_seq_op.sequence_tree(nodes, cfg=kcfg, buckets=buckets)
        .filter(~F.col("is_duplicate"))  # canonical link per (conv, node)
        .select(
            F.col("conv_id").alias("_lc"),
            F.col("node_id").alias("_ln"),
            "prev",
            F.col("sequenceable").alias("_lseq"),
        )
    )
    seq = parsed.join(
        links,
        (parsed["conv_id"] == links["_lc"]) & (parsed["event_id"] == links["_ln"]),
        "left",
    ).drop("_lc", "_ln")

    ok = F.col("parse_ok")
    gated_id = F.when(ok, F.col("event_id"))
    w_dup = Window.partitionBy("conv_id", gated_id).orderBy("turn_idx")
    seq = seq.withColumn("is_duplicate", F.row_number().over(w_dup) > 1)
    seq = seq.withColumn(
        "sequenceable", F.coalesce(F.col("_lseq"), F.lit(True))
    ).drop("_lseq")
    prev = F.when(F.col("sequenceable"), F.col("prev"))
    out = F.when(prev.isNotNull(), F.array(prev)) if cfg.seq_array_mode else prev
    seq = seq.withColumn(cfg.seq_out_col, out).drop("prev")
    for share, ident, value in cfg.group_applies:
        seq = seq_op.group_applies(seq, share, ident, value, ok_col="parse_ok")
    return seq


def build_single_pass(
    transcripts: DataFrame,
    tool_meta: DataFrame,
    role_meta: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """The whole DAG as ONE linear lazy plan over every input row
    (routable AND reject), no branches, no joins except the two
    broadcast dims. ``src_partition_id`` is stamped at scan time for
    per-input-partition lineage; invalid rows carry ``reject_reason``
    and a reserved reject sink."""
    df = transcripts.withColumn("src_partition_id", F.spark_partition_id())
    parsed = parse_op.parse(df, rules=cfg.parse_rules)

    if cfg.tree_mode:
        # General-tree plan: the Arrow DFS kernel is a genuine second
        # stage (grouped applyInPandas + co-partitioned link join), so
        # this mode trades the pure single-plan shape for real tree
        # semantics; the chain-verify window still rides the same
        # conv_id partitioning.
        seq = _apply_tree_sequence(parsed, cfg)
        seq = verify_op.chain_verify_flags(seq)
    elif cfg.hot_block_size:
        # Hot-skew plan: the salted sequence/verify operators bound
        # per-task work by block, not conversation length. No conv_id
        # repartition pin here — pinning would let the block windows
        # reuse the conv-only exchange via the subset rule and keep a
        # hot conversation in ONE task, defeating the salt; each
        # operator requests its own (conv, block) distribution instead.
        # The carry/flag side-branches re-derive their narrow inputs
        # (column-pruned re-parse / reused exchanges) rather than
        # persisting the full parsed table — recompute of a few codegen
        # columns beats materializing text twice at any scale.
        seq = _apply_sequence(parsed, cfg, ok_col="parse_ok")
        ver = verify_op.chain_verify_salted(parsed, cfg.hot_block_size).select(
            "conv_id", "verified"
        )
        seq = seq.join(ver, "conv_id", "left")
    else:
        # Stage order minimizes in-partition sorts: the (conv, event_id)
        # duplicate windows run first (sort #1), then every (conv, turn)
        # window — prev-link range, verify chain — shares sort #2; the
        # broadcast enrich joins preserve order and come last. The
        # explicit conv_id repartition pins the ONE exchange to the key
        # every window can reuse via the hash-partitioning subset rule
        # (without it, Catalyst partitions the first window on
        # (conv, event_id) and must re-exchange for the conv-level
        # windows); AQE still coalesces it.
        seq = _apply_sequence(parsed.repartition("conv_id"), cfg, ok_col="parse_ok")
        seq = verify_op.chain_verify_flags(seq)

    enriched = enrich_op.enrich(seq, tool_meta, role_meta)
    routed = route_op.assign_reject_sinks(enriched, KNOWN_SINKS)
    return routed.select(*OUTPUT_COLS, "src_partition_id", "reject_reason")


def build_sequenced(
    transcripts: DataFrame,
    tool_meta: DataFrame,
    role_meta: DataFrame,
    cfg: PipelineConfig,
) -> tuple[DataFrame, DataFrame]:
    """Pure (lazy) plan: returns (sequenced_routable, rejects) — thin
    filters over the single-pass plan (both modes)."""
    sp = build_single_pass(transcripts, tool_meta, role_meta, cfg)
    is_reject = F.col("reject_reason").isNotNull()
    routable = sp.filter(~is_reject).select(*OUTPUT_COLS)
    rejects = sp.filter(is_reject).select(*REJECT_COLS)
    return routable, rejects


def _metrics_rows(cat: Catalog, run_id: str) -> int:
    """Total rows from _metrics for THIS run. _metrics is replaced by
    whichever run wrote last, so a resume must filter on run_id rather
    than sum another run's counts; an empty match (legacy table without
    this run's rows) falls back to the unfiltered sum."""
    rows = cat.read("_metrics").collect()
    mine = [r for r in rows if r.run_id == run_id]
    return sum(r.rows for r in (mine or rows))


def _derive_metrics_lineage(
    spark: SparkSession, cat: Catalog, man: RunManifest, run_id: str
) -> int:
    """ONE column-pruned readback aggregation of the written output →
    per-sink _metrics + per-input-partition _lineage (≤ #sinks ×
    #input-partitions groups, finalized driver-side — the reference's
    per-message success log, producers.go:882-884, batched into
    tables). Shared by run() and run_incremental() so the two paths
    cannot drift; returns the total row count."""
    per = (
        cat.read("sequenced_events")
        .groupBy("sink", "src_partition_id")
        .agg(
            F.count("*").alias("rows"),
            F.min("conv_id").alias("min_conv_id"),
            F.max("conv_id").alias("max_conv_id"),
        )
    ).collect()
    if not man.is_committed("metrics"):
        by_sink: dict[str, int] = {}
        for r in per:
            by_sink[r.sink] = by_sink.get(r.sink, 0) + r.rows
        cat.write(
            spark.createDataFrame(
                [(run_id, s, n) for s, n in sorted(by_sink.items())],
                "run_id string, sink string, rows bigint",
            ),
            "_metrics",
        )
        man.commit("metrics")
    if not man.is_committed("lineage"):
        by_pid: dict[int, list] = {}
        for r in per:
            cur = by_pid.get(r.src_partition_id)
            if cur is None:
                by_pid[r.src_partition_id] = [r.rows, r.min_conv_id, r.max_conv_id]
            else:
                cur[0] += r.rows
                cur[1] = min(cur[1], r.min_conv_id)
                cur[2] = max(cur[2], r.max_conv_id)
        cat.write(
            spark.createDataFrame(
                [
                    (run_id, "sequence", pid, n, lo, hi)
                    for pid, (n, lo, hi) in sorted(by_pid.items())
                ],
                "run_id string, stage string, partition_id int, "
                "rows bigint, min_conv_id string, max_conv_id string",
            ),
            "_lineage",
        )
        man.commit("lineage")
    return sum(r.rows for r in per)


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    tool_meta: DataFrame | None = None,
    role_meta: DataFrame | None = None,
) -> dict:
    """Execute + persist all outputs; resumable via the run manifest.

    Default (single-pass) execution does exactly ONE heavy job — the
    fan-out write of every row — then derives rejects (partition-pruned
    read of the moved reject dirs), per-sink metrics (count over the
    sink partition column of the written output), per-input-partition
    lineage (two-column pruned scan) and the row count (sum of metrics,
    driver-side over ≤ #sinks rows) WITHOUT touching the input again.
    """
    run_id = cfg.run_id or uuid.uuid4().hex[:12]
    cat = Catalog(spark, cfg.out_root, stats_columns=cfg.stats_columns or None)
    man = RunManifest(cfg.out_root, run_id)
    t0 = time.time()

    steps = ("fanout", "rejects", "metrics", "lineage")
    if all(man.is_committed(s) for s in steps):
        # fully-resumed run: nothing to recompute — answer from _metrics
        n_rows = _metrics_rows(cat, run_id)
        return {
            "run_id": run_id,
            "rows": n_rows,
            "wall_sec": time.time() - t0,
            "turns_per_sec": 0.0,
            "committed": man.committed_steps(),
            "resumed": True,
        }

    tool_meta = tool_meta if tool_meta is not None else datagen.tool_meta(spark)
    role_meta = role_meta if role_meta is not None else datagen.role_meta(spark)

    routed_all = build_single_pass(transcripts, tool_meta, role_meta, cfg)

    if not man.is_committed("fanout"):
        # ONE job writes every row; the reject partitions are then
        # moved out to become the rejects table (metadata-only), so
        # "rejects" is committed by the same atomic commit. The move /
        # swap mechanics live behind the Catalog so an Iceberg
        # implementation (partition REPLACE + snapshot swap) drops in.
        cat.commit_fanout_split(routed_all, "sequenced_events", "rejects")
        man.commit("fanout", {"path": cat.path("sequenced_events")})
    if not man.is_committed("rejects"):
        man.commit("rejects", {"path": cat.path("rejects")})

    if man.is_committed("metrics") and man.is_committed("lineage"):
        n_rows = _metrics_rows(cat, run_id)
    else:
        n_rows = _derive_metrics_lineage(spark, cat, man, run_id)

    wall = time.time() - t0
    return {
        "run_id": run_id,
        "rows": n_rows,
        "wall_sec": wall,
        "turns_per_sec": n_rows / wall if wall > 0 else 0.0,
        "committed": man.committed_steps(),
    }


def run_from_events(spark: SparkSession, sf_dir: str, cfg: PipelineConfig) -> dict:
    return run(spark, datagen.transcripts_from_events(spark, sf_dir), cfg)


def run_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    changed_convs,
    tool_meta: DataFrame | None = None,
    role_meta: DataFrame | None = None,
) -> dict:
    """Late/changed-data re-run — the batch analog of the reference's
    late-message handling (a late same-tree message re-processes that
    tree as a new instance, groupandverify.go:456-474): ONLY the
    affected conversations are recomputed and merged into the sink
    tables.

    Correct by construction: every pipeline operator is conversation-
    local (windows and the DFS kernel partition on conv_id; the dims
    are global broadcasts), so recomputing the changed conversations
    over the NEW snapshot and splicing them in yields bit-identical
    tables to a from-scratch run — asserted in test_incremental.

    Scale shape: the recompute scans only the affected rows (at the
    real target, an Iceberg snapshot-diff prunes the scan to changed
    files; here a semi-join filter), and the merge is Catalog.
    replace_keys — MERGE/partition-overwrite on Iceberg, anti-join +
    atomic swap on the parquet stand-in. Metrics/lineage re-derive
    from the merged output with the same column-pruned readback as
    run().

    ``changed_convs``: DataFrame with a conv_id column, or an iterable
    of conv_id strings.
    """
    run_id = cfg.run_id or uuid.uuid4().hex[:12]
    cat = Catalog(spark, cfg.out_root, stats_columns=cfg.stats_columns or None)
    man = RunManifest(cfg.out_root, f"incr-{run_id}")
    t0 = time.time()

    if isinstance(changed_convs, DataFrame):
        keys = changed_convs.select("conv_id").distinct()
    else:
        keys = spark.createDataFrame(
            [(c,) for c in changed_convs], "conv_id string"
        )

    affected = transcripts.join(keys, "conv_id", "left_semi")
    tool_meta = tool_meta if tool_meta is not None else datagen.tool_meta(spark)
    role_meta = role_meta if role_meta is not None else datagen.role_meta(spark)
    routed_all = build_single_pass(affected, tool_meta, role_meta, cfg)

    if not man.is_committed("incr_fanout"):
        cat.commit_fanout_split(routed_all, "_incr_events", "_incr_rejects")
        man.commit("incr_fanout")
    if not man.is_committed("incr_merge"):
        cat.replace_keys(
            "sequenced_events", "_incr_events", keys, partition_by=["sink"]
        )
        # commit_fanout_split always materializes _incr_rejects (empty
        # with full schema when the recompute produced none), so ONE
        # replace_keys covers both cases: the changed conversations'
        # old reject rows are anti-joined out and any new ones spliced
        # in — a no-reject recompute correctly DROPS stale rejects.
        cat.replace_keys("rejects", "_incr_rejects", keys, partition_by=["sink"])
        man.commit("incr_merge")

    # metrics + lineage re-derived from the merged output — the same
    # shared readback as run(), so a consumer reconciling the table
    # against _metrics/_lineage always balances. (Post-merge,
    # src_partition_id values describe the snapshot that produced each
    # row — original run for untouched conversations, the incremental
    # scan for recomputed ones.)
    n_rows = _derive_metrics_lineage(spark, cat, man, run_id)
    cat.drop("_incr_events")
    cat.drop("_incr_rejects")
    wall = time.time() - t0
    return {
        "run_id": run_id,
        "rows": n_rows,
        "recomputed_convs": keys.count(),
        "wall_sec": wall,
        "committed": man.committed_steps(),
    }


def replay_rejects(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
) -> dict:
    """Re-drive the DLQ after a config fix — the batch form of the
    reference's reprocess-the-dead-letter workflow (invalid messages
    park with their raw payload and re-enter once the extractor config
    is corrected, Server/consumers.go:776-790).

    Because prev-links are conversation-scoped, a parked row cannot be
    re-sequenced in isolation: its recovery changes its NEIGHBORS'
    links too (a recovered turn un-resets the gap after it). So replay
    = read the committed rejects table, take the DISTINCT affected
    conversations, and run the incremental recompute over exactly
    those conversations under the NEW ``cfg`` (fixed ``parse_rules``)
    — giving tables bit-identical to a from-scratch run with the fixed
    config (run_incremental's invariant). Conversations whose rows
    still fail simply land back in the rejects table.

    Scale shape: the rejects read is a tiny table; the recompute scans
    only affected conversations (semi-join pushdown / Iceberg
    snapshot-diff at the real target); the merge is replace_keys.
    """
    cat = Catalog(spark, cfg.out_root, stats_columns=cfg.stats_columns or None)
    # materialize the key set BEFORE the merge: the incremental run
    # atomically replaces the rejects table these keys are derived
    # from, and a lazy plan would re-read the deleted files afterwards
    # (Iceberg analog: pin the snapshot the keys came from).
    rejected_convs = (
        cat.read("rejects").select("conv_id").distinct().transform(snapshot)
    )
    n_convs = rejected_convs.count()
    if n_convs == 0:
        return {"rejects_before_convs": 0, "recomputed_convs": 0}
    res = run_incremental(spark, transcripts, cfg, rejected_convs)
    remaining = cat.read("rejects").count()
    return {
        **res,
        "rejects_before_convs": n_convs,
        "rejects_after_rows": remaining,
    }


def refresh_dims(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    old_tool_meta: DataFrame,
    new_tool_meta: DataFrame,
    role_meta: DataFrame | None = None,
) -> dict:
    """Dim-delta view maintenance: after the tool-metadata dim changes
    (a tool re-homed to a new sink, a category rename), bring the
    committed sink tables up to date WITHOUT re-reading the corpus.

    The reference has no analog (its config is fixed at boot;
    setupServers.go:319-443 — a config change means restart +
    reprocess); this is the operation a 10^12-turn deployment actually
    needs, since re-running the whole pipeline for a 3-row dim edit is
    absurd.

    Mechanics: diff the two dim states on the tool key
    (operators.diff.snapshot_diff — inserts, deletes and real value
    changes; a byte-identical row contributes nothing), semi-join the
    corpus on the changed keys to find the AFFECTED CONVERSATIONS
    (conversation granularity, not row: sequenced outputs splice in
    whole conversations via replace_keys, and enrichment feeds the
    sink routing that fan-out partitioning is keyed on), then delegate
    to run_incremental under the NEW dim — bit-identical tables to a
    from-scratch run with it (asserted in test_incremental).

    Scale shape: the dim diff is config-sized; the only corpus-scale
    work is ONE semi-join scan pruned to rows whose tool is in the
    changed-key broadcast (at the real target the tool->conv inverted
    index or a partition-stats prune cuts this further) plus the
    bounded recompute of affected conversations.
    """
    from ..operators import diff as diff_op

    # materialize the (config-sized) diff once: it feeds the count AND
    # the semi-join, and a lazy plan would run the dim diff twice
    changed = (
        diff_op.snapshot_diff(old_tool_meta, new_tool_meta, ["tool"])
        .select("tool")
        .distinct()
        .transform(snapshot)
    )
    n_keys = changed.count()
    if n_keys == 0:
        return {"changed_dim_keys": 0, "recomputed_convs": 0}
    affected_convs = (
        transcripts.join(F.broadcast(changed), "tool", "left_semi")
        .select("conv_id")
        .distinct()
        .transform(snapshot)
    )
    # a changed key no transcript references must not trigger two
    # corpus-scale replace_keys rewrites to splice in nothing
    if affected_convs.isEmpty():
        return {"changed_dim_keys": n_keys, "recomputed_convs": 0}
    res = run_incremental(
        spark, transcripts, cfg, affected_convs,
        tool_meta=new_tool_meta, role_meta=role_meta,
    )
    return {**res, "changed_dim_keys": n_keys}
