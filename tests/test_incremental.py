"""Incremental (late/changed-data) re-run: recomputing only the
affected conversations and merging must be bit-identical to a full
re-run over the new input — valid because every operator is
conversation-local (the reference's late-message semantics,
groupandverify.go:456-474, as a batch merge)."""

from __future__ import annotations

from pyspark.sql import functions as F

from otel2pv_spark import datagen
from conftest import read_table, spark_jobs, table_mtime_fingerprint
from otel2pv_spark.plans import pipeline
from otel2pv_spark.sources.catalog import Catalog


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
    """run_incremental commits rejects, then sequenced_events, from one
    new staged write; the previous fan-out stage both tables shared
    lives under ``_data/sequenced_events/`` and must be swept once no
    manifest references it, and no staging table is left behind."""
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
    assert sorted(os.listdir(os.path.join(root, "_meta"))) == [
        "_lineage", "_metrics", "rejects", "sequenced_events",
    ]


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


def test_serial_job_budget_run_and_incremental(spark, sf_dir, tmp_path):
    """Serial Spark jobs of one batch run and of one late-data merge on
    the sf0.001 fixture. The merge is one staged write of (both tables
    minus the changed conversations) ∪ recompute; staging the recompute
    in its own table pair, merging each table separately and dropping
    the staging tables took 26 jobs. A change that adds a serial job
    fails here."""
    tr = datagen.transcripts_from_events(spark, sf_dir)
    convs = [r.conv_id for r in tr.select("conv_id").distinct().limit(5).collect()]
    root = str(tmp_path / "out")
    with spark_jobs(spark) as run_jobs:
        pipeline.run(spark, tr, pipeline.PipelineConfig(out_root=root, run_id="base"))
    assert len(run_jobs) <= 10, len(run_jobs)
    with spark_jobs(spark) as incr_jobs:
        pipeline.run_incremental(
            spark, tr, pipeline.PipelineConfig(out_root=root, run_id="d1"), convs
        )
    assert len(incr_jobs) <= 15, len(incr_jobs)


def test_driver_built_relations_are_local(spark, sf_dir, tmp_path, monkeypatch):
    """The _metrics/_lineage rows and a listed key set are driver-built:
    they plan as Arrow-backed local relations, never as a Python-backed
    ``LogicalRDD`` that re-runs a Python worker on every execution."""
    plans = {}
    write, replace_keys = Catalog.write, Catalog.replace_keys

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def spy_write(self, df, table, partition_by=None):
        plans[table] = plan(df)
        write(self, df, table, partition_by=partition_by)

    def spy_replace_keys(self, routed_all, table, rejects_table, keys, **kw):
        plans["keys"] = plan(keys)
        replace_keys(self, routed_all, table, rejects_table, keys, **kw)

    monkeypatch.setattr(Catalog, "write", spy_write)
    monkeypatch.setattr(Catalog, "replace_keys", spy_replace_keys)
    tr = datagen.transcripts_from_events(spark, sf_dir)
    convs = [r.conv_id for r in tr.select("conv_id").distinct().limit(2).collect()]
    root = str(tmp_path / "out")
    pipeline.run(spark, tr, pipeline.PipelineConfig(out_root=root, run_id="base"))
    pipeline.run_incremental(
        spark, tr, pipeline.PipelineConfig(out_root=root, run_id="d1"), convs
    )
    assert sorted(plans) == ["_lineage", "_metrics", "keys"]
    for name, p in plans.items():
        assert "LogicalRDD" not in p and "LocalRelation" in p, (name, p)


def test_incremental_resumes_after_crash_between_swaps(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash between the merge's two pointer swaps leaves the new
    rejects beside the old sequenced_events. Re-running the same
    run_id redoes the merge over that pair and converges to the tables
    of a from-scratch run over the new input."""
    tr = datagen.transcripts_from_events(spark, sf_dir)
    convs = sorted(
        r.conv_id for r in tr.select("conv_id").distinct().limit(5).collect()
    )
    # the changed conversations lose turn 5 and gain a garbled turn 2,
    # so both tables change
    modified = tr.filter(
        ~(F.col("conv_id").isin(convs) & (F.col("turn_idx") == 5))
    ).withColumn(
        "text",
        F.when(
            F.col("conv_id").isin(convs) & (F.col("turn_idx") == 2),
            F.lit("garbled"),
        ).otherwise(F.col("text")),
    )
    root = str(tmp_path / "incr")
    pipeline.run(spark, tr, pipeline.PipelineConfig(out_root=root, run_id="base"))
    cat = Catalog(spark, root)
    main_before = cat._current_version("sequenced_events")
    rej_before = cat._current_version("rejects")

    commit, replace_keys = Catalog._commit, Catalog.replace_keys
    state = {"merging": False, "commits": 0}

    def crashing_commit(self, table, *a, **kw):
        if state["merging"]:
            state["commits"] += 1
            if state["commits"] == 2:
                raise RuntimeError("crash before the second pointer swap")
        commit(self, table, *a, **kw)

    def merging(self, *a, **kw):
        state["merging"] = True
        try:
            replace_keys(self, *a, **kw)
        finally:
            state["merging"] = False

    monkeypatch.setattr(Catalog, "_commit", crashing_commit)
    monkeypatch.setattr(Catalog, "replace_keys", merging)
    cfg = pipeline.PipelineConfig(out_root=root, run_id="delta")
    try:
        pipeline.run_incremental(spark, modified, cfg, convs)
    except RuntimeError:
        pass
    else:
        raise AssertionError("the injected crash did not fire")
    monkeypatch.undo()
    assert cat._current_version("rejects") == rej_before + 1
    assert cat._current_version("sequenced_events") == main_before

    pipeline.run_incremental(spark, modified, cfg, convs)
    pipeline.run(
        spark, modified,
        pipeline.PipelineConfig(out_root=str(tmp_path / "full"), run_id="fresh"),
    )
    out_cols = [
        "conv_id", "turn_idx", "sink", "event_id", "previous_event_ids",
        "verified", "sequenceable", "is_duplicate",
    ]
    rej_cols = ["conv_id", "turn_idx", "reject_reason"]
    for tbl, cols in (("sequenced_events", out_cols), ("rejects", rej_cols)):
        a = read_table(spark, root, tbl)
        b = read_table(spark, tmp_path / "full", tbl)
        assert _rows(a, cols) == _rows(b, cols), tbl
    assert read_table(spark, root, "rejects").filter(
        F.col("conv_id").isin(convs)
    ).count() > 0
