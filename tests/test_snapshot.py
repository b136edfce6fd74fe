"""The shared lineage-cut helper (otel2pv_spark/snapshot.py): local vs
reliable mode, config resolution, and the iterative operators that
depend on it (PageRank, connected components) running green in BOTH
modes with identical results."""

from __future__ import annotations

import os

import pytest

from otel2pv_spark.functions import dedup as dd
from otel2pv_spark.functions import graph as gr
from otel2pv_spark.snapshot import snapshot


@pytest.fixture
def reliable_mode(spark, tmp_path):
    """Flip the session to reliable checkpoints for one test, restore
    after (conf + the SparkContext checkpoint dir are session-global)."""
    spark.conf.set("spark.otel2pv.snapshot.reliable", "true")
    spark.conf.set("spark.otel2pv.snapshot.dir", str(tmp_path / "ckpt"))
    sc = spark.sparkContext
    prev_dir = sc.getCheckpointDir()
    try:
        yield
    finally:
        spark.conf.set("spark.otel2pv.snapshot.reliable", "false")
        spark.conf.unset("spark.otel2pv.snapshot.dir")
        if prev_dir:
            sc.setCheckpointDir(prev_dir)


def _fs_path(uri: str) -> str:
    return uri[len("file:"):] if uri and uri.startswith("file:") else uri


def _lineage_cut(df) -> bool:
    # a checkpointed DataFrame (local or reliable) is re-rooted on a
    # LogicalRDD — the original plan is gone
    return "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()


def test_snapshot_default_is_local(spark):
    df = snapshot(spark.range(5))
    assert df.count() == 5
    assert _lineage_cut(df)


def test_snapshot_reliable_writes_checkpoint_files(spark, tmp_path, reliable_mode):
    df = snapshot(spark.range(10))
    assert df.count() == 10
    assert _lineage_cut(df)
    # blocks persisted under the session's checkpoint dir (it may have
    # been pinned by an earlier test in this shared session — use the
    # live value, not the fixture's)
    ckroot = _fs_path(spark.sparkContext.getCheckpointDir())
    found = []
    for _root, _dirs, files in os.walk(ckroot):
        found.extend(files)
    assert found, "reliable snapshot must persist blocks under the checkpoint dir"


def test_pagerank_and_cc_green_in_reliable_mode(spark, reliable_mode, monkeypatch):
    """The VERDICT done-criterion: the iterative operators whose rounds
    cut lineage run with reliable checkpoints and produce the same
    values as local mode (the golden fixtures). Connected components
    is held to its rounds (no driver finish), so its per-round
    checkpoints are the reliable ones under test."""
    monkeypatch.setattr(dd, "_DRIVER_FINISH_EDGES", 0)
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r.node: r.rank_micro for r in gr.pagerank(e, iters=2).collect()}
    assert got == {1: 1_361_250, 2: 575_000, 3: 1_063_750}

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    comp = dd.connected_components(pairs, nodes=nodes)
    groups = {}
    for r in comp.collect():
        groups.setdefault(r.component, set()).add(r.doc_id)
    assert sorted(sorted(g) for g in groups.values()) == [[1, 2, 3], [4, 5], [6]]
