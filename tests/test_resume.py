"""Checkpoint/resume (S5/G10 analog): a run killed between stage
commits resumes by skipping committed stages and completing the rest,
yielding outputs identical to an uninterrupted run; a fully-committed
run is a no-op answering from _metrics.
"""

from __future__ import annotations

import os

from conftest import table_mtime_fingerprint
from otel2pv_spark.plans import pipeline
from otel2pv_spark.sources.catalog import Catalog
from otel2pv_spark.sources.manifest import RunManifest

SF = "/root/testdata/sf0.001"


def _mtimes(root: str) -> dict[str, float]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getmtime(p)
    return out


def test_resume_after_partial_commit(spark, tmp_path):
    out_a = str(tmp_path / "full")
    out_b = str(tmp_path / "resumed")

    # reference: uninterrupted run
    full = pipeline.run_from_events(
        spark, SF, pipeline.PipelineConfig(out_root=out_a, run_id="full")
    )

    # crashed run: fanout + rejects committed, then "killed" — simulate
    # by running once and deleting the later stages' outputs + commits
    pipeline.run_from_events(
        spark, SF, pipeline.PipelineConfig(out_root=out_b, run_id="crash")
    )
    man_path = os.path.join(out_b, "_manifest", "crash.json")
    import json

    with open(man_path) as f:
        state = json.load(f)
    for step in ("metrics", "lineage"):
        del state["committed"][step]
    with open(man_path, "w") as f:
        json.dump(state, f)
    cat_b = Catalog(spark, out_b)
    cat_b.drop("_metrics")
    cat_b.drop("_lineage")
    fanout_before = table_mtime_fingerprint(spark, out_b, "sequenced_events")

    res = pipeline.run_from_events(
        spark, SF, pipeline.PipelineConfig(out_root=out_b, run_id="crash")
    )
    assert res["rows"] == full["rows"]
    # committed stages were NOT rewritten
    assert table_mtime_fingerprint(spark, out_b, "sequenced_events") == fanout_before
    # resumed outputs identical to the uninterrupted run
    cat_a = Catalog(spark, out_a)
    for tbl in ("sequenced_events", "rejects"):
        a = cat_a.read(tbl)
        b = cat_b.read(tbl)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    ma = {(r.sink, r.rows) for r in cat_a.read("_metrics").collect()}
    mb = {(r.sink, r.rows) for r in cat_b.read("_metrics").collect()}
    assert ma == mb


def test_fully_committed_run_is_noop(spark, tmp_path):
    out = str(tmp_path / "done")
    first = pipeline.run_from_events(
        spark, SF, pipeline.PipelineConfig(out_root=out, run_id="r1")
    )
    before = _mtimes(out)
    again = pipeline.run_from_events(
        spark, SF, pipeline.PipelineConfig(out_root=out, run_id="r1")
    )
    assert again.get("resumed") is True
    assert again["rows"] == first["rows"]
    assert _mtimes(out) == before


def test_manifest_atomicity(tmp_path):
    man = RunManifest(str(tmp_path), "r")
    man.commit("a", {"x": 1})
    # a fresh handle sees the committed state (file was atomically
    # replaced, never truncated in place)
    assert RunManifest(str(tmp_path), "r").is_committed("a")
    assert not RunManifest(str(tmp_path), "r").is_committed("b")
