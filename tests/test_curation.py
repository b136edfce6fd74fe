"""End-to-end curation plan: committed tables, audit completeness,
resume semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import read_table, spark_jobs
from otel2pv_spark.entry_queries import PII_TAIL, docs_fixture, eval_fixture
from otel2pv_spark.plans import curation

SF = "/root/testdata/sf0.01"


def _fixture(spark):
    d = docs_fixture(spark, SF)
    stratum = (
        F.when(F.col("doc_id") % 10 < 6, F.lit("web"))
        .when(F.col("doc_id") % 10 < 9, F.lit("books"))
        .otherwise(F.lit("code"))
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(PII_TAIL)))
        .otherwise(F.col("text"))
        .alias("text"),
        stratum.alias("stratum"),
    )


def test_run_curation_commits_and_resumes(spark, tmp_path):
    docs = _fixture(spark)
    cfg = curation.CurationConfig(
        out_root=str(tmp_path / "cur"),
        run_id="t1",
        strata_col="stratum",
        temperature_alpha=0.5,
        target_frac=0.5,
    )
    res = curation.run_curation(spark, docs, eval_fixture(spark, SF), cfg)
    assert res["committed"] == ["audit", "clean", "stats"]
    assert res["n_in"] == docs.count()
    assert 0 < res["n_kept"] < res["n_in"]
    # every drop stage non-vacuous on this fixture (lang: all-en corpus)
    for reason in ["duplicate", "quality", "near_dup", "contaminated", "sampled_out"]:
        assert res["by_reason"].get(reason, 0) > 0, res["by_reason"]

    clean = read_table(spark, tmp_path / "cur", "clean_docs")
    audit = read_table(spark, tmp_path / "cur", "audit")
    assert clean.count() == res["n_kept"]
    # clean docs are scrubbed (PII placeholders, no raw emails) and packed
    assert clean.filter(F.col("text").contains("bob@example.com")).count() == 0
    assert clean.filter(F.col("pack_offset") >= 512).count() == 0
    assert clean.filter(F.col("split").isNull()).count() == 0
    # audit covers every input exactly once; kept set matches clean
    assert audit.count() == res["n_in"]
    assert audit.filter("kept").join(clean, "doc_id").count() == res["n_kept"]
    # stats table has per-split rows + a grand total that matches
    stats = read_table(spark, tmp_path / "cur", "_corpus_stats")
    total = stats.filter("grouping_level = 1").collect()
    assert len(total) == 1 and total[0]["n_docs"] == res["n_kept"]

    # resume: same run_id recomputes nothing and reports the same result
    res2 = curation.run_curation(spark, docs, eval_fixture(spark, SF), cfg)
    assert res2["n_kept"] == res["n_kept"]
    assert res2["by_reason"] == res["by_reason"]


def _plan_leaves(df):
    """(node name, output column names) of each leaf of ``df``'s
    optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        cols = leaf.output()
        out.append(
            (leaf.nodeName(), tuple(cols.apply(j).name() for j in range(cols.size())))
        )
    return out


def test_build_audit_reads_each_stage_once(spark):
    """The audit is one left-join fold of the ledger with each stage's
    snapshotted output: its plan reads no input file and each stage
    snapshot once (the lazily chained stages read the input files 55
    times and re-derived curate and the scrub in every branch)."""
    docs = _fixture(spark)
    configs = {
        # ledger, clusters, contamination
        3: curation.CurationConfig(),
        # ... and the sampling decisions
        4: curation.CurationConfig(
            strata_col="stratum", temperature_alpha=0.5, target_frac=0.5
        ),
    }
    for n_stages, cfg in configs.items():
        leaves = _plan_leaves(curation.build_audit(docs, eval_fixture(spark, SF), cfg))
        assert [name for name, _ in leaves] == ["LogicalRDD"] * n_stages, leaves
        assert len({cols for _, cols in leaves}) == n_stages, leaves


def test_run_curation_serial_job_budget(spark, tmp_path):
    """Curation's serial Spark jobs on a fixed fixture: the ledger and
    stage snapshots plus the connected-components driver finish hold a
    run to 39 (the lazily chained stages with CC rounds took 72). A
    change that adds a serial job fails here."""
    docs, eval_df = _fixture(spark), eval_fixture(spark, SF)
    cfg = curation.CurationConfig(out_root=str(tmp_path / "cur"), run_id="jobs")
    with spark_jobs(spark) as jobs:
        res = curation.run_curation(spark, docs, eval_df, cfg)
    assert res["committed"] == ["audit", "clean", "stats"]
    assert len(jobs) <= 39, len(jobs)
