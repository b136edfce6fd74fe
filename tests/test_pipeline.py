"""End-to-end pipeline tests on the driver's sf0.001 events table and
the synthetic generator, including a DuckDB cross-check of the portable
transcripts derivation (the foundation the oracle queries stand on)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from otel2pv_spark import datagen
from otel2pv_spark.plans import pipeline
from otel2pv_spark.portable_sql import with_transcripts


def test_transcripts_derivation_matches_duckdb(spark, sf_dir):
    """Spark and DuckDB must produce the identical transcripts table
    from the same events parquet + the same portable SQL."""
    sdf = datagen.transcripts_from_events(spark, sf_dir)
    srows = sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, str(r.ts))
        for r in sdf.collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    drows = sorted(
        (r[0], r[1], r[2], r[3], r[4], str(r[5]))
        for r in con.execute(with_transcripts("SELECT * FROM transcripts")).fetchall()
    )
    assert len(srows) == len(drows) and srows == drows


def test_transcripts_shape(spark, sf_dir):
    df = datagen.transcripts_from_events(spark, sf_dir)
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    n = df.count()
    assert n == 1000  # one row per event at sf0.001
    # dense unique turn_idx per conv
    dup = df.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
    assert dup == 0


def test_pipeline_end_to_end(spark, sf_dir, tmp_path):
    cfg = pipeline.PipelineConfig(out_root=str(tmp_path / "out"))
    res = pipeline.run_from_events(spark, sf_dir, cfg)
    assert res["rows"] > 0
    from otel2pv_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "out"))
    out = cat.read("sequenced_events")
    # every routable row landed in exactly one sink partition
    assert out.count() == res["rows"]
    assert set(r.sink for r in out.select("sink").distinct().collect()) <= set(
        pipeline.KNOWN_SINKS
    )
    # metrics match the fanout
    met = cat.read("_metrics")
    agg = {r.sink: r.rows for r in met.collect()}
    actual = {r.sink: r["count"] for r in out.groupBy("sink").count().collect()}
    assert agg == actual
    # rejects hold the malformed rows
    rej = cat.read("rejects")
    assert rej.filter("reject_reason = 'invalid_parse'").count() > 0
    # parse + rejects partition the input
    assert res["rows"] + rej.count() == 1000


def test_prev_links_straightline(spark, sf_dir, tmp_path):
    """Turn k's previous_event_ids == [id of turn k-1] within clean
    conversations; turn 0 has null; turn after a garbled turn has null
    (gap reset, sequencer.go:519-529,761-763 analog)."""
    cfg = pipeline.PipelineConfig(out_root=str(tmp_path / "out"))
    tr = datagen.transcripts_from_events(spark, sf_dir)
    tm, rm = datagen.tool_meta(spark), datagen.role_meta(spark)
    routable, _ = pipeline.build_sequenced(tr, tm, rm, cfg)
    rows = routable.filter(F.col("sequenceable")).collect()
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, {})[r.turn_idx] = r
    checked = 0
    for conv, turns in by_conv.items():
        for k, r in turns.items():
            prev = r.previous_event_ids
            if k == 0 or (k - 1) not in turns:
                assert prev is None, (conv, k, prev)
            else:
                assert prev == [f"{conv}:{k-1}"], (conv, k, prev)
                checked += 1
    assert checked > 100


def test_tree_mode_matches_window_mode(spark, sf_dir):
    """tree_mode runs the applyInPandas DFS kernel through the full DAG
    and must reproduce the window path's output row-for-row on the
    chain-shaped carrier (emission order == turn order under the
    child-is-previous-turn orientation)."""
    tr = datagen.transcripts_from_events(spark, sf_dir)
    tm, rm = datagen.tool_meta(spark), datagen.role_meta(spark)
    win, _ = pipeline.build_sequenced(tr, tm, rm, pipeline.PipelineConfig())
    tree, _ = pipeline.build_sequenced(
        tr, tm, rm, pipeline.PipelineConfig(tree_mode=True)
    )
    cols = [
        "conv_id", "turn_idx", "sink", "event_id",
        "previous_event_ids", "verified", "sequenceable", "is_duplicate",
    ]

    def canon(df):
        return sorted(
            (
                r.conv_id, r.turn_idx, r.sink, r.event_id,
                tuple(r.previous_event_ids or []), r.verified,
                r.sequenceable, r.is_duplicate,
            )
            for r in df.select(*cols).collect()
        )

    a, b = canon(win), canon(tree)
    assert len(a) == len(b) > 0
    assert a == b


def test_tree_mode_run_end_to_end(spark, sf_dir, tmp_path):
    cfg = pipeline.PipelineConfig(out_root=str(tmp_path / "out"), tree_mode=True)
    res = pipeline.run_from_events(spark, sf_dir, cfg)
    from otel2pv_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "out"))
    out = cat.read("sequenced_events")
    assert out.count() == res["rows"] > 0
    rej = cat.read("rejects")
    assert res["rows"] + rej.count() == 1000


def test_pipeline_stats_columns_enable_pruned_sink_reads(
    spark, sf_dir, tmp_path
):
    """Opt-in PipelineConfig.stats_columns flows to the sink commits:
    the committed sequenced_events entries carry [min, max] stats and a
    selective Catalog.read(where=...) equals the plain filtered read
    (pruning exercised end-to-end)."""
    from otel2pv_spark.sources.catalog import Catalog

    out = str(tmp_path / "statsout")
    cfg = pipeline.PipelineConfig(
        out_root=out, run_id="stats1", stats_columns=("conv_id", "turn_idx")
    )
    pipeline.run_from_events(spark, sf_dir, cfg)
    cat = Catalog(spark, out, stats_columns=("conv_id", "turn_idx"))
    man = cat._load_manifest("sequenced_events")
    assert any("stats" in e for e in man["entries"])
    got = cat.read("sequenced_events", where=("turn_idx", "<=", 1)).count()
    want = (
        cat.read("sequenced_events").filter(F.col("turn_idx") <= 1).count()
    )
    assert got == want and got > 0


def test_synth_generator_deterministic(spark):
    a = datagen.synth_transcripts(spark, n_convs=50, avg_turns=8).collect()
    b = datagen.synth_transcripts(spark, n_convs=50, avg_turns=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # hot conversation skew fixture present
    df = datagen.synth_transcripts(spark, n_convs=50, avg_turns=8, hot_convs=1)
    sizes = {r.conv_id: r["count"] for r in df.groupBy("conv_id").count().collect()}
    assert max(sizes.values()) == 800  # 100× avg


def test_catalog_compact(spark, tmp_path):
    """Compaction rewrites many small files into the target count
    without changing the data, for both flat and partitioned tables."""
    from otel2pv_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(0, 10_000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("sink"),
    )
    cat.write(df.repartition(32), "flat")
    assert cat._table_file_stats("flat")[0] == 32
    stats = cat.compact("flat", target_file_mb=256)
    assert stats["files_before"] == 32 and stats["target_files"] == 1
    assert cat._table_file_stats("flat")[0] == 1
    assert cat.read("flat").count() == 10_000
    assert sorted(r["id"] for r in cat.read("flat").collect()) == list(range(10_000))

    cat.write(df.repartition(16), "parted", partition_by=["sink"])
    assert cat._table_file_stats("parted")[0] == 64  # 16 tasks x 4 values
    cat.compact("parted", target_file_mb=256, partition_by=["sink"])
    after = cat._table_file_stats("parted")[0]
    assert after == 4  # clustered: one file per partition value
    assert cat.read("parted").groupBy("sink").count().count() == 4
    assert cat.read("parted").count() == 10_000


def test_per_turn_text_equality_stable_order(spark, sf_dir, tmp_path):
    """The BASELINE.json per-row invariant, literally: under the stable
    (conv_id, turn_idx) ordering, every routed row's text is
    byte-identical to the input transcript's text for that turn, the
    ordering key is unique on both sides, and routed ∪ rejects == input
    keys exactly (nothing dropped, nothing invented)."""
    cfg = pipeline.PipelineConfig(out_root=str(tmp_path / "out"))
    pipeline.run_from_events(spark, sf_dir, cfg)
    inp = datagen.transcripts_from_events(spark, sf_dir)
    from otel2pv_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "out"))
    out = cat.read("sequenced_events")
    rej = cat.read("rejects")

    in_rows = {(r.conv_id, r.turn_idx): r.text for r in inp.collect()}
    out_rows = [(r.conv_id, r.turn_idx, r.text) for r in out.collect()]
    rej_keys = {(r.conv_id, r.turn_idx) for r in rej.collect()}

    out_keys = [(c, t) for c, t, _ in out_rows]
    assert len(out_keys) == len(set(out_keys))  # stable order key unique
    assert len(in_rows) == len(inp.collect())
    for c, t, text in out_rows:
        assert text == in_rows[(c, t)], (c, t)  # byte-identical pass-through
    assert set(out_keys) | rej_keys == set(in_rows)
    assert set(out_keys) & rej_keys == set()
