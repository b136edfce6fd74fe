"""Committed ANN index plan (plans/ann_index.py): committed centroids/
codebooks/codes/vectors tables, partition-pruned cell serving, crash
resume, and row-for-row equality with the lazy IVFADC+R chain the
ann_ivfadc_topk driver query oracle-checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import table_mtime_fingerprint
from otel2pv_spark.functions import similarity as sim
from otel2pv_spark.plans import ann_index as aidx


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _results(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.dist, r.rank) for r in df.collect()
    )


def _check_serving_matches_lazy(spark, emb, cfg):
    """Serving from the committed index == pq_refine_topk from scratch
    on the same corpus and the same coarse centroids — the
    text_bm25_indexed equivalence pattern."""
    res = aidx.run_index(spark, emb, cfg)
    assert set(res["committed"]) == {"centroids", "codebooks", "codes", "vectors"}
    assert res["cells"] == cfg.k_cells
    assert res["codes"] == emb.count()

    queries = emb.filter(F.col("vec_id") < 8)
    served = aidx.query_index(spark, cfg, queries)

    if cfg.train_centroids:
        cents = sim.ivf_train(emb, k=cfg.k_cells, iters=cfg.pq_iters)
    else:
        cents = sim.make_anchors(emb, cfg.k_cells)
    cb = sim.pq_train(emb, m=cfg.pq_m, ksub=cfg.pq_ksub, iters=cfg.pq_iters)
    lazy = sim.pq_refine_topk(
        emb, queries, cb, k=cfg.final_k, refine_r=cfg.refine_r,
        centroids=cents, nprobe=cfg.nprobe,
    )
    assert _results(served) == _results(lazy)
    # rank contract: contiguous 1..k per query
    per_q = {}
    for qid, _, _, rank in _results(served):
        per_q.setdefault(qid, []).append(rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_committed_index_serving_matches_lazy(spark, sf_dir, tmp_path):
    cfg = aidx.AnnIndexConfig(out_root=str(tmp_path / "aidx"), run_id="a1")
    _check_serving_matches_lazy(spark, _emb(spark, sf_dir), cfg)


def test_committed_index_serving_matches_lazy_trained(spark, sf_dir, tmp_path):
    """Same equality with Lloyd-trained coarse centroids: the committed
    codes table assigns cells with ivf_assign over ivf_train output."""
    cfg = aidx.AnnIndexConfig(
        out_root=str(tmp_path / "aidx_t"), run_id="a1t", train_centroids=True
    )
    _check_serving_matches_lazy(spark, _emb(spark, sf_dir), cfg)


def test_index_resume_skips_committed_steps(spark, sf_dir, tmp_path):
    """A re-run with the same run_id resumes from the manifest: no
    step recomputes (table mtimes unchanged), same counts."""
    emb = _emb(spark, sf_dir)
    cfg = aidx.AnnIndexConfig(out_root=str(tmp_path / "aidx2"), run_id="a2")
    first = aidx.run_index(spark, emb, cfg)
    root = str(tmp_path / "aidx2")
    before = table_mtime_fingerprint(spark, root, "codes")
    second = aidx.run_index(spark, emb, cfg)
    assert table_mtime_fingerprint(spark, root, "codes") == before
    assert second["codes"] == first["codes"]
    assert second["cells"] == first["cells"]


def test_serving_prunes_to_probed_cells(spark, sf_dir, tmp_path):
    """Under the manifest strategy the probed-cell `in` read plans a
    scan over STRICTLY fewer files than the full table — the
    entry-pruning contract that makes 10^12-vector serving feasible
    (measured via inputFiles, the catalog data-skipping test pattern;
    the posix strategy gets the same effect from Spark's own hive
    partition pruning, which inputFiles cannot observe)."""
    import os

    from otel2pv_spark.sources.catalog import Catalog

    emb = _emb(spark, sf_dir)
    cfg = aidx.AnnIndexConfig(out_root=str(tmp_path / "aidx3"), run_id="a3")
    old = os.environ.get("SPARK_GRAFT_CATALOG")
    os.environ["SPARK_GRAFT_CATALOG"] = "manifest"
    try:
        aidx.run_index(spark, emb, cfg)
        cat = Catalog(
            spark, cfg.out_root, strategy="manifest",
            stats_columns=("cluster",),
        )
        # every committed cell entry carries min = max = its cell id
        # plus its row count (count-star fuel)
        man = cat._load_manifest("codes")
        assert all("stats" in e and "rows" in e for e in man["entries"])
        assert sum(e["rows"] for e in man["entries"]) == emb.count()
        assert cat.count_rows("codes") == emb.count()

        queries = emb.filter(F.col("vec_id") < 2)
        probed = sorted(
            r["cluster"]
            for r in sim.ivf_probe_cells(
                queries, cat.read("centroids"), cfg.nprobe
            ).select("cluster").distinct().collect()
        )
        # with nprobe=2 and two query points, < all 4 cells probed
        assert 0 < len(probed) < cfg.k_cells
        full = set(cat.read("codes").inputFiles())
        pruned = set(
            cat.read("codes", where=("cluster", "in", probed)).inputFiles()
        )
        assert pruned and pruned < full

        # and the served result is identical to serving without the
        # prune (pruning is a read optimization, never semantics)
        served = aidx.query_index(spark, cfg, queries)
        codes_all = cat.read("codes")
        vec_all = cat.read("vectors").select("vec_id", "embedding")
        unpruned = sim.pq_refine_topk_from_index(
            codes_all, vec_all, queries, cat.read("codebooks"),
            k=cfg.final_k, refine_r=cfg.refine_r,
            centroids=cat.read("centroids"), nprobe=cfg.nprobe,
        )
        assert _results(served) == _results(unpruned)
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_CATALOG", None)
        else:
            os.environ["SPARK_GRAFT_CATALOG"] = old


def test_from_codes_requires_cluster_column(spark):
    """centroids given but no cluster column in the codes table must
    fail loudly (a silent full scan would defeat the index)."""
    import pytest

    emb = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, float(i % 3)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    cb = sim.pq_train(emb, m=2, ksub=2, iters=1)
    codes = sim.pq_codes_table(emb, cb)  # no centroids -> no cluster col
    cents = sim.make_anchors(emb, 2)
    with pytest.raises(ValueError, match="cluster"):
        sim.pq_adc_topk_from_codes(codes, emb, cb, centroids=cents)
