"""Incremental (late/changed-data) re-run: recomputing only the
affected conversations and merging must be bit-identical to a full
re-run over the new input — valid because every operator is
conversation-local (the reference's late-message semantics,
groupandverify.go:456-474, as a batch merge)."""

from __future__ import annotations

from pyspark.sql import functions as F

from otel2pv_spark import datagen
from conftest import read_table, table_mtime_fingerprint
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


def test_incremental_matches_full(spark, sf_dir, tmp_path):
    tr = datagen.transcripts_from_events(spark, sf_dir)
    convs = sorted(
        r.conv_id for r in tr.select("conv_id").distinct().limit(5).collect()
    )

    pipeline.run(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "incr"), run_id="base"),
    )

    # new snapshot: the changed conversations lose turn 5 (creates a
    # prev-link gap and changes per-sink counts)
    modified = tr.filter(
        ~(F.col("conv_id").isin(convs) & (F.col("turn_idx") == 5))
    )
    res = pipeline.run_incremental(
        spark, modified,
        pipeline.PipelineConfig(out_root=str(tmp_path / "incr"), run_id="delta"),
        convs,
    )
    assert res["recomputed_convs"] == len(convs)

    pipeline.run(
        spark, modified,
        pipeline.PipelineConfig(out_root=str(tmp_path / "full"), run_id="fresh"),
    )

    out_cols = [
        "conv_id", "turn_idx", "sink", "event_id", "previous_event_ids",
        "verified", "sequenceable", "is_duplicate",
    ]
    a = read_table(spark, tmp_path / "incr", "sequenced_events")
    b = read_table(spark, tmp_path / "full", "sequenced_events")
    assert _rows(a, out_cols) == _rows(b, out_cols)

    rej_cols = ["conv_id", "turn_idx", "reject_reason"]
    ra = read_table(spark, tmp_path / "incr", "rejects")
    rb = read_table(spark, tmp_path / "full", "rejects")
    assert _rows(ra, rej_cols) == _rows(rb, rej_cols)

    ma = {
        (r.sink, r.rows)
        for r in read_table(spark, tmp_path / "incr", "_metrics").collect()
    }
    mb = {
        (r.sink, r.rows)
        for r in read_table(spark, tmp_path / "full", "_metrics").collect()
    }
    assert ma == mb


def test_incremental_idempotent_rerun(spark, sf_dir, tmp_path):
    """Re-running the same incremental merge leaves the tables
    unchanged (anti-join removes the previously merged rows first)."""
    tr = datagen.transcripts_from_events(spark, sf_dir)
    convs = [r.conv_id for r in tr.select("conv_id").distinct().limit(3).collect()]
    root = str(tmp_path / "out")
    pipeline.run(spark, tr, pipeline.PipelineConfig(out_root=root, run_id="base"))

    pipeline.run_incremental(
        spark, tr, pipeline.PipelineConfig(out_root=root, run_id="d1"), convs
    )
    first = _rows(
        read_table(spark, root, "sequenced_events"),
        ["conv_id", "turn_idx", "sink", "event_id"],
    )
    pipeline.run_incremental(
        spark, tr, pipeline.PipelineConfig(out_root=root, run_id="d2"), convs
    )
    second = _rows(
        read_table(spark, root, "sequenced_events"),
        ["conv_id", "turn_idx", "sink", "event_id"],
    )
    assert first == second


def test_incremental_leaves_no_unreferenced_stage(spark, sf_dir, tmp_path):
    """run_incremental rewrites sequenced_events, then rejects; the
    fan-out stage both tables shared lives under
    ``_data/sequenced_events/`` and must be swept once the rejects
    commit releases it, not kept until the next sequenced_events
    commit."""
    import glob
    import json
    import os

    tr = datagen.transcripts_from_events(spark, sf_dir)
    convs = [r.conv_id for r in tr.select("conv_id").distinct().limit(3).collect()]
    root = str(tmp_path / "out")
    pipeline.run(spark, tr, pipeline.PipelineConfig(out_root=root, run_id="base"))
    pipeline.run_incremental(
        spark, tr, pipeline.PipelineConfig(out_root=root, run_id="d1"), convs
    )

    referenced = set()
    for ptr in glob.glob(os.path.join(root, "_meta", "*", "VERSION")):
        with open(ptr) as fh:
            version = fh.read().strip()
        with open(os.path.join(os.path.dirname(ptr), f"v{version}.json")) as fh:
            for e in json.load(fh)["entries"]:
                referenced.add(os.path.normpath(e.get("base") or e["path"]))
    stages = {
        os.path.relpath(d, root)
        for d in glob.glob(os.path.join(root, "_data", "*", "s-*"))
    }
    assert stages and stages <= referenced, stages - referenced


def test_refresh_dims_matches_full_recompute(spark, sf_dir, tmp_path):
    """Dim-delta maintenance: re-home one tool's sink, refresh, and the
    tables must be bit-identical to a from-scratch run under the new
    dim; only conversations touching the changed tool recompute."""
    tr = datagen.transcripts_from_events(spark, sf_dir)
    old_dim = datagen.tool_meta(spark)
    # re-home tool-0 (a search tool) to a different sink + new owner
    new_dim = old_dim.withColumn(
        "tool_sink",
        F.when(F.col("tool") == "tool-0", F.lit("sink_misc"))
        .otherwise(F.col("tool_sink")),
    ).withColumn(
        "owner",
        F.when(F.col("tool") == "tool-0", F.lit("team-misc"))
        .otherwise(F.col("owner")),
    )

    pipeline.run(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "dimr"), run_id="base"),
    )
    res = pipeline.refresh_dims(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "dimr"), run_id="dimdelta"),
        old_dim, new_dim,
    )
    assert res["changed_dim_keys"] == 1
    n_affected = (
        tr.filter(F.col("tool") == "tool-0").select("conv_id").distinct().count()
    )
    assert res["recomputed_convs"] == n_affected

    pipeline.run(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "dimf"), run_id="fresh"),
        tool_meta=new_dim,
    )
    out_cols = [
        "conv_id", "turn_idx", "sink", "event_id", "previous_event_ids",
        "verified", "sequenceable", "is_duplicate",
    ]
    a = read_table(spark, tmp_path / "dimr", "sequenced_events")
    b = read_table(spark, tmp_path / "dimf", "sequenced_events")
    assert _rows(a, out_cols) == _rows(b, out_cols)
    # the refresh actually moved rows (non-vacuous)
    assert a.filter(
        (F.col("tool") == "tool-0") & (F.col("sink") == "sink_misc")
    ).count() > 0


def test_refresh_dims_noop_on_identical_dim(spark, sf_dir, tmp_path):
    """A byte-identical dim state is a metadata-only no-op: zero keys,
    zero recomputed conversations, no table touched."""
    tr = datagen.transcripts_from_events(spark, sf_dir)
    dim = datagen.tool_meta(spark)
    pipeline.run(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "dimn"), run_id="base"),
    )
    res = pipeline.refresh_dims(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "dimn"), run_id="nop"),
        dim, dim,
    )
    assert res == {"changed_dim_keys": 0, "recomputed_convs": 0}


def test_refresh_dims_unreferenced_key_skips_rewrite(spark, sf_dir, tmp_path):
    """A changed dim key no transcript references must not rewrite the
    sink tables: changed_dim_keys counts it, recomputed_convs is 0 and
    the committed tables keep their mtimes."""
    import os

    tr = datagen.transcripts_from_events(spark, sf_dir)
    old_dim = datagen.tool_meta(spark)
    new_dim = old_dim.unionByName(
        spark.createDataFrame(
            [("tool-ghost", "misc", "owner-z", "sink_misc")],
            "tool string, tool_category string, owner string, tool_sink string",
        )
    )
    pipeline.run(
        spark, tr,
        pipeline.PipelineConfig(out_root=str(tmp_path / "dimg"), run_id="base"),
    )
    root = str(tmp_path / "dimg")
    before = table_mtime_fingerprint(spark, root, "sequenced_events")
    res = pipeline.refresh_dims(
        spark, tr,
        pipeline.PipelineConfig(out_root=root, run_id="ghost"),
        old_dim, new_dim,
    )
    assert res == {"changed_dim_keys": 1, "recomputed_convs": 0}
    assert table_mtime_fingerprint(spark, root, "sequenced_events") == before
