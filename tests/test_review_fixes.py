"""Regression tests for review findings: incremental reject merge,
empty-rejects commit, DLQ raw-record preservation, tree/window duplicate
conflict parity, resume metrics run_id filtering, curation misconfig."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from conftest import read_table, spark_jobs
from otel2pv_spark import datagen
from otel2pv_spark.plans import pipeline


def _rows(df, cols):
    out = []
    for r in df.select(*cols).collect():
        out.append(
            tuple(
                tuple(v) if isinstance(v, list) else v
                for v in (r[c] for c in cols)
            )
        )
    return sorted(out)


def test_incremental_reject_merge(spark, sf_dir, tmp_path):
    """Changed conversations whose recompute REMOVES reject rows (their
    garbled turns are gone in the new snapshot) and one that GAINS a
    reject must both merge correctly — the incremental rejects table
    must equal a fresh full run's."""
    tr = datagen.transcripts_from_events(spark, sf_dir)
    rej_convs = sorted(
        r.conv_id
        for r in tr.filter(F.col("text").startswith("garbled"))
        .select("conv_id").distinct().limit(2).collect()
    )
    assert rej_convs, "fixture must contain garbled rows"
    clean_conv = (
        tr.select("conv_id").distinct()
        .join(
            tr.filter(F.col("text").startswith("garbled"))
            .select("conv_id").distinct(),
            "conv_id",
            "left_anti",
        )
        .orderBy("conv_id").limit(1).collect()[0].conv_id
    )
    changed = rej_convs + [clean_conv]

    pipeline.run(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "incr"), run_id="base"),
    )

    # new snapshot: garbled turns of rej_convs removed; one turn of the
    # clean conversation garbled
    modified = tr.filter(
        ~(F.col("conv_id").isin(rej_convs) & F.col("text").startswith("garbled"))
    ).withColumn(
        "text",
        F.when(
            (F.col("conv_id") == clean_conv) & (F.col("turn_idx") == 1),
            F.lit("garbled {}"),
        ).otherwise(F.col("text")),
    )

    pipeline.run_incremental(
        spark, modified,
        pipeline.PipelineConfig(out_root=str(tmp_path / "incr"), run_id="delta"),
        changed,
    )
    pipeline.run(
        spark, modified,
        pipeline.PipelineConfig(out_root=str(tmp_path / "full"), run_id="fresh"),
    )

    rej_cols = ["conv_id", "turn_idx", "reject_reason"]
    ra = read_table(spark, tmp_path / "incr", "rejects")
    rb = read_table(spark, tmp_path / "full", "rejects")
    assert _rows(ra, rej_cols) == _rows(rb, rej_cols)
    # the removed convs' old rejects are gone, the new one is present
    got_convs = {r.conv_id for r in ra.select("conv_id").distinct().collect()}
    assert clean_conv in got_convs
    assert not (set(rej_convs) & got_convs)
    # _lineage was refreshed by the incremental run and reconciles with
    # the merged table
    lin = read_table(spark, tmp_path / "incr", "_lineage")
    ev = read_table(spark, tmp_path / "incr", "sequenced_events")
    assert sum(r.rows for r in lin.collect()) == ev.count()
    assert {r.run_id for r in lin.collect()} == {"delta"}


def test_empty_rejects_table_is_readable(spark, sf_dir, tmp_path):
    """A run whose input has no invalid rows must still commit a
    READABLE (empty, schema'd) rejects table."""
    tr = datagen.transcripts_from_events(spark, sf_dir).filter(
        ~F.col("text").startswith("garbled")
    )
    pipeline.run(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "clean"), run_id="r1"),
    )
    rej = read_table(spark, tmp_path / "clean", "rejects")
    assert rej.count() == 0
    assert "reject_reason" in rej.columns


def test_resume_metrics_filtered_by_run_id(spark, sf_dir, tmp_path):
    """A resumed run must report ITS OWN row counts even after another
    run overwrote _metrics for the same out_root."""
    from otel2pv_spark.sources.catalog import Catalog

    tr = datagen.transcripts_from_events(spark, sf_dir)
    cfg = pipeline.PipelineConfig(out_root=str(tmp_path / "res"), run_id="a")
    first = pipeline.run(spark, tr, cfg)

    # simulate a later run replacing _metrics with different counts
    cat = Catalog(spark, cfg.out_root)
    cat.write(
        spark.createDataFrame(
            [("b", "sink_user", 999999)], "run_id string, sink string, rows bigint"
        ).unionByName(cat.read("_metrics")),
        "_metrics",
    )
    resumed = pipeline.run(spark, tr, cfg)
    assert resumed["resumed"]
    assert resumed["rows"] == first["rows"]


def test_formats_missing_key_preserves_record(spark, tmp_path):
    """A decoded-but-keyless row must land in the DLQ with its content
    reconstructed, not a NULL raw_record."""
    import json
    import os

    from otel2pv_spark.sources.formats import read_with_dlq

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    with open(f"{src}/a.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "ok", "lang": "en", "source": "s"}) + "\n")
        f.write(json.dumps({"text": "no id here", "lang": "en", "source": "s"}) + "\n")
        f.write("{not json\n")
    good, rejects = read_with_dlq(spark, src, fmt="jsonl", key_col="doc_id")
    assert good.count() == 1
    got = {r.reject_reason: r.raw_record for r in rejects.collect()}
    assert "{not json" in got["decode_error"]
    assert "no id here" in got["missing_key"]


def _mk_transcripts(spark, rows):
    base = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (conv, idx, "user", text, "", base + timedelta(seconds=30 * idx))
            for conv, idx, text in rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_dup_conflict_parity_window_vs_tree(spark):
    """A duplicated event_id with a DIFFERENT payload must make the
    conversation unsequenceable in BOTH modes (the kernel's deep
    compare and the window path's dup_compare_cols now agree)."""
    def line(eid, parent, etype="view"):
        return f"event={etype} id={eid} parent={parent} job=job-0 app=app-0 :: {{}}"

    rows = [
        ("c1", 0, line("c1:0", "-")),
        ("c1", 1, line("c1:1", "c1:0")),
        # duplicate of c1:1 with a conflicting payload (event_type)
        ("c1", 2, line("c1:1", "c1:0", etype="error")),
        # c2: equal duplicate — stays sequenceable
        ("c2", 0, line("c2:0", "-")),
        ("c2", 1, line("c2:1", "c2:0")),
    ]
    tr = _mk_transcripts(spark, rows)
    tool_meta = datagen.tool_meta(spark)
    role_meta = datagen.role_meta(spark)

    results = {}
    for mode, cfg in (
        ("window", pipeline.PipelineConfig()),
        ("tree", pipeline.PipelineConfig(tree_mode=True)),
    ):
        out = pipeline.build_single_pass(tr, tool_meta, role_meta, cfg)
        results[mode] = {
            (r.conv_id, r.turn_idx): (r.sequenceable, r.previous_event_ids)
            for r in out.collect()
        }
    for mode in ("window", "tree"):
        got = results[mode]
        assert got[("c1", 0)][0] is False, mode
        assert all(got[("c1", i)][1] is None for i in range(3)), mode
        assert got[("c2", 1)][0] is True, mode
        assert got[("c2", 1)][1] == ["c2:0"], mode
    assert results["window"] == results["tree"]


def test_curation_sampling_misconfig_fails_loudly(spark):
    from otel2pv_spark.plans import curation

    docs = spark.createDataFrame([(1, "a b c", "s")], "doc_id long, text string, source string")
    ev = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    # build_audit materializes its stages eagerly; a misconfiguration
    # must fail before the first of them runs
    with spark_jobs(spark) as jobs:
        with pytest.raises(ValueError, match="silently no-op"):
            curation.build_audit(
                docs, ev, curation.CurationConfig(strata_col="source")
            )
        with pytest.raises(ValueError, match="require strata_col"):
            curation.build_audit(
                docs, ev, curation.CurationConfig(temperature_alpha=0.5)
            )
    assert jobs == []


def test_null_text_routes_to_rejects(spark):
    """A NULL text row must be a definite reject, not a three-valued
    parse_ok=NULL that vanishes from both DLQ branches and ships to a
    real sink."""
    from otel2pv_spark.operators import parse as parse_op

    tr = _mk_transcripts(spark, [("c1", 0, "event=view id=c1:0 parent=- job=j app=a :: {}")])
    tr = tr.unionByName(
        _mk_transcripts(spark, [("c1", 1, "placeholder")]).withColumn(
            "text", F.lit(None).cast("string")
        )
    )
    parsed = parse_op.parse(tr)
    good, bad = parse_op.split_rejects(parsed)
    assert good.count() == 1
    assert bad.count() == 1  # the NULL-text row is a reject, not lost
    out = pipeline.build_single_pass(
        tr, datagen.tool_meta(spark), datagen.role_meta(spark),
        pipeline.PipelineConfig(),
    )
    rr = {r.turn_idx: r.reject_reason for r in out.collect()}
    assert rr[1] is not None


def test_dfs_budget_allows_many_missing_children(spark):
    """A legitimate partial tree whose root lists many never-arrived
    children must sequence (missing-child dummy), not be rejected as a
    cycle by an iteration budget that ignored child references."""
    from otel2pv_spark.operators import sequence_tree as st

    rows = [
        ("c1", "r", "", [f"m{i}" for i in range(20)] + ["k"], "t", 0, {"e": "r"}, 0),
        ("c1", "k", "r", [], "t", 0, {"e": "k"}, 1),
    ]
    df = spark.createDataFrame(rows, st.NODE_SCHEMA)
    out = {r.node_id: (r.reject_reason, r.prev) for r in st.sequence_tree(df).collect()}
    assert out["r"][0] is None
    # 20 dummies reset prev before 'k' is emitted last... k emits first
    # (child), then r with prev=k? No: children visited in order, the
    # 19 dummies come BEFORE k, the last dummy resets prev, k emits
    # with no prev, then r with prev=k.
    assert out["k"][1] is None
    assert out["r"][1] == "k"


def test_unknown_source_fails_loudly(spark):
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from otel2pv_spark.operators import parse as parse_op

    rules = [parse_op.ExtractionRule("a_val", r"A=(\d)", source="other_col")]
    tr = _mk_transcripts(spark, [("c1", 0, "A=1")])
    with _pytest.raises(AnalysisException, match="other_col"):
        parse_op.parse(tr, rules=rules)


def test_sequence_null_parents_still_sequenceable(spark):
    """NULL (vs '') parent ids must not poison sequenceable via
    three-valued logic."""
    from otel2pv_spark.operators import sequence as seq_op

    df = spark.createDataFrame(
        [("c1", 0, "c1:0", None), ("c1", 1, "c1:1", None)],
        "conv_id string, turn_idx int, event_id string, parent_event_id string",
    )
    out = seq_op.sequence_window(df, array_mode=False, out_col="prev")
    got = {r.turn_idx: (r.sequenceable, r.prev) for r in out.collect()}
    assert got[0] == (True, None)
    assert got[1] == (True, "c1:0")


# ---------------------------------------------------- functions-pass fixes
def test_minhash_bands_must_divide(spark):
    from otel2pv_spark.functions import dedup as dd

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide"):
        dd.minhash_lsh_candidates(docs, num_hashes=12, bands=16).collect()
    with pytest.raises(ValueError, match="must divide"):
        dd.minhash_band_table(docs, num_hashes=12, bands=5).collect()


def test_empty_docs_not_silently_dropped(spark):
    from otel2pv_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j alpha"), (2, "!!! ---"), (3, "")],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in dd.simhash(docs).collect()}
    assert sh[2] == 0 and sh[3] == 0 and len(sh) == 3
    ld = {r.doc_id: (r.n_lines, r.text_kept) for r in dd.line_dedup(docs).collect()}
    assert ld[2] == (0, "") and ld[3] == (0, "") and len(ld) == 3


def test_jaccard_estimate_covers_short_docs(spark):
    from otel2pv_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")],  # doc 2: < 3 tokens, no shingles
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    got = dd.minhash_jaccard_estimate(docs, cands).collect()
    assert len(got) == 1 and got[0].jaccard_est == 0.0


def test_shuffle_rank_bigint_and_max_partitions(spark):
    from otel2pv_spark.functions import prep

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    out = prep.shuffle_deterministic(docs, num_partitions=65536)
    assert dict(out.dtypes)["shuffle_rank"] == "bigint"
    ranks = sorted(r.shuffle_rank for r in out.collect())
    assert ranks == list(range(1, 21))  # dense, no overflow corruption


def test_lsh_topk_external_query(spark):
    from otel2pv_spark.functions import similarity as sim

    corpus = spark.createDataFrame(
        [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2), 0.1])
         for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    anchors = sim.make_anchors(corpus, 2)
    # a query id NOT in the corpus must still produce neighbors
    q = spark.createDataFrame(
        [(999, [1.0, 0.05, 0.0, 0.1])], "vec_id long, embedding array<double>"
    )
    got = sim.lsh_topk(corpus, q, anchors, k=3).collect()
    assert len(got) > 0
    assert all(r.query_id == 999 for r in got)


def test_repetition_single_n_no_crash(spark):
    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame([(1, "a a a a a a")], "doc_id long, text string")
    got = ts.repetition_scores(docs, ns=(3,)).collect()[0]
    assert got.is_repetitive  # "a a a" dominates both fractions


def test_ngram_lm_document_boundary_mle(spark):
    """A context occurrence at a document end must not deflate the
    conditional probability: P(b | a) = 1.0 even though 'a' also ends
    another document."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "x a")], "doc_id long, text string"
    )
    got = {r.ngram: r.cond_prob for r in ts.ngram_lm(docs, n=2, min_count=1).collect()}
    assert got["a b"] == 1.0
    assert got["x a"] == 1.0
