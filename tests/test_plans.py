"""Physical-plan regression tests — lock in the scale-critical plan
shapes so a future refactor can't silently reintroduce a scale-killer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from otel2pv_spark import datagen
from otel2pv_spark.functions import dedup as dd
from otel2pv_spark.functions import similarity as sim
from otel2pv_spark.plans import pipeline


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cosine_topk_shuffles_are_narrow_and_salted(spark, sf_dir):
    """Brute-force top-k must never ship vectors through an exchange,
    and the big window must be salted by input partition (no
    per-query-only partitioning over the full scored set)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
    plan = _plan(df)
    exchanges = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert exchanges, plan
    for line in exchanges:
        assert "embedding" not in line and "qvec" not in line, line
    # the first (full-data) exchange carries the partition salt
    assert any("_pid" in line for line in exchanges), plan


def test_simhash_single_shuffle_no_bit_explosion(spark, sf_dir):
    """SimHash must aggregate all bit sums in ONE groupBy: exactly one
    non-broadcast exchange and no generator producing 32x rows after
    the token explode (one Generate total, for tokens)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(dd.simhash(docs))
    n_exchange = sum(
        "Exchange hashpartitioning" in line for line in plan.splitlines()
    )
    n_generate = sum(line.strip().startswith("+- Generate") or "Generate explode" in line
                     for line in plan.splitlines())
    assert n_exchange == 1, plan
    assert plan.count("Generate") <= 1, plan


def test_single_pass_pipeline_one_pinned_exchange(spark, sf_dir):
    """The default window-mode DAG: exactly one conv_id data exchange
    (plus the test-data derivation's user_id exchange), all dim joins
    broadcast, and only two pipeline sorts."""
    tr = datagen.transcripts_from_events(spark, sf_dir)
    routable, _ = pipeline.build_sequenced(
        tr, datagen.tool_meta(spark), datagen.role_meta(spark),
        pipeline.PipelineConfig(),
    )
    plan = _plan(routable)
    data_exchanges = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "Broadcast" not in line
    ]
    conv_exchanges = [line for line in data_exchanges if "conv_id" in line]
    assert len(conv_exchanges) == 1, plan
    assert "SortMergeJoin" not in plan, plan
    pipeline_sorts = [
        line for line in plan.splitlines()
        if "Sort [conv_id" in line.replace(":", "").replace("+-", "").strip()
        or ("Sort [conv_id" in line)
    ]
    assert len(pipeline_sorts) == 2, plan


def test_repetition_and_stratified_sample_no_shuffle(spark, sf_dir):
    """repetition_scores and stratified_sample are pure projections:
    zero exchanges in the physical plan."""
    from otel2pv_spark.functions import prep, textstats as ts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in [
        ts.repetition_scores(docs),
        prep.stratified_sample(docs, {"src0": 0.5}, strata_col="source"),
    ]:
        assert "Exchange" not in _plan(df), _plan(df)


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval n-gram side must broadcast; the corpus must never be
    hash-exchanged by n-gram content (only the final per-doc count and
    the id-join may shuffle)."""
    from otel2pv_spark.functions import prep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    plan = _plan(prep.decontaminate(docs, ev))
    # the ngram match itself is a broadcast join
    assert "BroadcastHashJoin [ngram" in plan, plan
    # exactly two hash exchanges: the eval-side distinct (tiny, feeds
    # the broadcast) and the per-doc hit count keyed by doc_id — the
    # corpus is never hash-exchanged by n-gram content
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 2, plan
    assert sum("doc_id" in l for l in ex) == 1, plan


def test_temperature_sample_broadcasts_rate_table(spark, sf_dir):
    """The per-domain rate table joins back by broadcast — the corpus
    is never shuffled by stratum."""
    from otel2pv_spark.functions import prep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(prep.temperature_sample(docs, strata_col="source"))
    assert "BroadcastHashJoin" in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            # only the tiny counts agg may hash-exchange, on the corpus
            # side nothing repartitions by source with doc rows attached
            assert "doc_id" not in line, line


def test_shuffle_deterministic_no_global_window(spark, sf_dir):
    """The global rank must range-partition the DATA and rank within
    partitions — the only single-partition window allowed is the
    offsets cumsum over the config-sized (≤ P rows) counts table."""
    from otel2pv_spark.functions import prep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(prep.shuffle_deterministic(docs))
    # the full-data window is partitioned by the deterministic range id
    # (an explicit hex-prefix bucket, exchanged by hash on _pid)
    assert "Exchange hashpartitioning(_pid" in plan, plan
    assert "windowspecdefinition(_pid" in plan, plan
    # single-partition exchanges exist only downstream of the tiny
    # per-partition-count aggregate, never directly over the scan
    for i, line in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in line:
            tail = "\n".join(plan.splitlines()[i:i + 4])
            assert "HashAggregate" in tail, plan


def test_jl_project_zero_shuffle(spark, sf_dir):
    """JL projection is a pure codegen projection: no Exchange at all."""
    from otel2pv_spark.functions import reduce_dim as rd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(rd.jl_project(emb, out_dim=8))
    assert "Exchange" not in plan, plan


def test_covariance_moments_partial_agg_one_exchange(spark, sf_dir):
    """The Gram pass must map-side combine: exactly one hash exchange,
    keyed by (i, j) cells — the corpus rows themselves never shuffle
    (no vec/embedding column in any exchange)."""
    from otel2pv_spark.functions import reduce_dim as rd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(rd.covariance_moments(emb))
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 1, plan
    assert "embedding" not in ex[0], ex[0]
    # partial aggregation before the exchange (map-side combine)
    assert "partial_sum" in plan, plan


def test_lsh_candidates_band_table_computed_once(spark, sf_dir):
    """AQE does not reuse identical self-join exchanges (measured on
    this Spark build: two full scans, zero ReusedExchange), so the
    band table must be SNAPSHOTTED before the band self-join — the
    candidate plan may not contain any parquet scan or shingle
    recompute; both sides read the checkpointed rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(dd.minhash_lsh_candidates(docs))
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_ngram_jaccard_candidate_mode_bounded_by_candidates(spark, sf_dir):
    """In candidate mode the corpus is semi-joined down to docs that
    appear in a pair BEFORE shingling, and the shingle rows are
    snapshotted once — no parquet re-scan inside the intersection
    joins (the verification tier's cost must be |candidates|-bounded,
    not corpus-bounded)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = dd.minhash_lsh_candidates(docs)
    plan = _plan(dd.ngram_jaccard_pairs(docs, candidates=cands))
    assert "Scan parquet" not in plan, plan


def test_sft_examples_single_exchange_shared_sort(spark, sf_dir):
    """Both window frames (bounded context, unbounded truncation count)
    must share ONE conv exchange, ONE sort, ONE Window operator — the
    second frame must not buy a second shuffle or sort."""
    from otel2pv_spark.functions import prep

    tr = datagen.synth_transcripts(spark, n_convs=50, partitions=4)
    plan = _plan(prep.sft_examples(tr))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan
    assert plan.count("Window ") == 1, plan


def test_phash_neardup_no_allpairs(spark, sf_dir):
    """Candidate generation must be the banded equi self-join — never a
    cartesian/broadcast-nested-loop product over the corpus."""
    from otel2pv_spark.functions import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = mm.phash_neardup(mm.media_phash(mm.attach_fake_media(docs)))
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_url_dedup_partial_agg(spark, sf_dir):
    """The norm_url groupBy must partial-aggregate map-side (two
    HashAggregate levels around one exchange)."""
    from otel2pv_spark.entry_queries import url_fixture
    from otel2pv_spark.functions import prep

    df = prep.url_dedup(url_fixture(spark, sf_dir))
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_ranking_auc_two_level_cumsum(spark, sf_dir):
    """AUC's cumulative-negatives must stay two-level: the only
    single-partition steps are the block-offset window (one row per
    block) and the final scalar agg; the per-score cumulative window is
    partitioned BY block; the corpus reduction is snapshotted once (no
    second scan of the source)."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sc = docs.select(
        (F.col("doc_id") % 100).cast("bigint").alias("score_u"),
        (F.col("doc_id") % 3 == 0).alias("label"),
    )
    plan = _plan(ts.ranking_auc(sc))
    assert plan.count("Exchange SinglePartition") <= 2, plan
    assert "windowspecdefinition(_blk" in plan, plan
    # snapshotted distinct-score table: both consumers read the RDD,
    # the parquet source appears in NO branch of this plan
    assert "ExistingRDD" in plan and "FileScan parquet" not in plan, plan


def test_sparse_dot_topk_no_allpairs_single_materialization(spark, sf_dir):
    """Sparse inner-product top-k must be a posting-list equi-join
    (never a cartesian/nested-loop), read the components from ONE
    materialization on both sides, and rank through the two-level
    pattern with the rank-limit pushdown active."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(sim.sparse_dot_topk(ts.hashed_components(docs, dim=16), k=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Generate") == 0, plan  # upstream explode ran once, pre-snapshot
    assert "ExistingRDD" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "_pid" in plan, plan  # partition-salted partial top-k


def test_hashed_embedding_no_python_one_explode(spark, sf_dir):
    """The dense hashed embedding is codegen-only (no Python UDFs), one
    token explode, and reduction exchanges on (id, bucket) then id —
    densification happens strictly after all aggregation."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(ts.hashed_embedding(docs, dim=16))
    assert "Python" not in plan, plan
    assert plan.count("Generate") == 1, plan
    assert "hashpartitioning(doc_id" in plan, plan


def test_reassemble_multiline_single_shuffle(spark):
    """The islands pass costs ONE exchange: the groupBy reuses the
    running-sum window's hash partitioning on the stream key."""
    from otel2pv_spark.operators.templates import reassemble_multiline

    df = spark.createDataFrame(
        [("c", i, "event=x" if i % 3 else "  cont") for i in range(30)],
        "conv_id string, turn_idx int, text string",
    )
    out = reassemble_multiline(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert plan.count("Exchange") == 1


def test_burn_rate_single_fact_scan(spark, sf_dir):
    """The long rollup aggregates the short rollup: the events fact is
    scanned once, and its exchange feeds both window grains."""
    from otel2pv_spark import datagen
    from otel2pv_spark.operators.aggregate import burn_rate_alerts

    ev = datagen.load_events(spark, sf_dir).withColumn(
        "service", (F.col("user_id") % 10).cast("bigint")
    )
    out = burn_rate_alerts(
        ev, F.col("event_type") == "error",
        budget_ppm=100_000, short_factor=3, long_factor=2, key_col="service",
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert plan.count("events.parquet") == 1
