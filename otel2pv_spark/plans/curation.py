"""End-to-end training-data curation plan over a documents table —
the corpus-side counterpart of ``plans/pipeline.py``'s transcript DAG:

    scrub → quality/lang-ID/exact-dup (one-shuffle curate) →
    near-dup clustering (LSH + connected components) →
    benchmark decontamination (broadcast eval n-grams) →
    domain sampling (temperature or stratified, hash-deterministic) →
    sequence packing → committed clean/audit/stats tables.

Every input document appears in the audit table with its final
decision and FIRST drop reason (duplicate > lang > quality > near_dup
> contaminated > sampled_out) — the same auditable-filtering contract
as ``prep.curate``: at 100 TB, silent drops are how corpora go wrong.

Scale shape by stage: curate is one exchange (its dedup window);
clustering is LSH-bucketed pair generation + O(log n) CC rounds (a
graph small enough for the driver finishes there by union-find); the
decontaminate eval side broadcasts; sampling is a hash-threshold
projection against a broadcast rate table; packing shuffles once on
the shard key.

Each stage is computed once. ``build_audit`` snapshots the ledger
(curate's decision and split per document plus the scrubbed text the
later stages run over) and each stage's narrow output: clusters
(doc_id, cluster_id, is_canonical), contamination (doc_id,
contaminated) and, when configured, the sampling decision. A stage reads
the snapshots before it, and the audit is one left-join fold of the
ledger with those outputs. Without the snapshots every stage's input
is a lazy join on the previous stage's plan, so curate and the scrub
re-run in every branch of the audit plan (55 scans of the input files
for 1,000 documents). Outputs commit through the same
``Catalog``/``RunManifest`` machinery as the pipeline (atomic swap,
crash-resume by step).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dedup as dd
from ..functions import prep
from ..functions import textstats as ts
from ..snapshot import snapshot
from ..sources.catalog import Catalog
from ..sources.manifest import RunManifest


@dataclass
class CurationConfig:
    out_root: str = "/tmp/otel2pv_curation"
    run_id: str | None = None
    quality_threshold: float = 0.3
    lang: str = "en"
    # near-dup clustering (MinHash-LSH + connected components)
    dedup_n: int = 3
    num_hashes: int = 12
    bands: int = 3
    # decontamination
    decontaminate_n: int = 8
    # sampling: strata_col=None disables; else temperature (alpha set)
    # or stratified (rates set) — exactly one of the two
    strata_col: str | None = None
    temperature_alpha: float | None = None
    target_frac: float = 1.0
    sample_rates: dict[str, float] = field(default_factory=dict)
    # packing
    pack_budget: int = 512
    pack_shards: int = 8


def build_audit(
    docs: DataFrame, eval_df: DataFrame, cfg: CurationConfig
) -> DataFrame:
    """Per-document curation decisions as one DataFrame:
    (doc_id, cluster_id, kept, drop_reason, split).

    ``docs`` needs (doc_id, text) plus ``cfg.strata_col`` if sampling
    is configured. Stages run over the SCRUBBED text (two documents
    differing only in redacted PII are duplicates) and each stage sees
    only the previous stage's survivors, so drop_reason is the first
    gate that fired. The ledger and stage outputs are materialized
    here (Spark jobs run before this returns); the returned plan reads
    only those snapshots."""
    if (cfg.temperature_alpha is not None) and cfg.sample_rates:
        raise ValueError(
            "CurationConfig: temperature_alpha and sample_rates are "
            "mutually exclusive — configure exactly one"
        )
    if cfg.strata_col and not (
        cfg.temperature_alpha is not None or cfg.sample_rates
    ):
        raise ValueError(
            "CurationConfig: strata_col is set but neither "
            "temperature_alpha nor sample_rates is — sampling would "
            "silently no-op (every survivor kept)"
        )
    if (cfg.temperature_alpha is not None or cfg.sample_rates) and not cfg.strata_col:
        raise ValueError(
            "CurationConfig: temperature_alpha/sample_rates require strata_col"
        )
    # the ledger: curate's decision and split per input document plus
    # the scrubbed text every later stage runs over, computed once
    ledger = prep._curate_ledger(
        docs, quality_threshold=cfg.quality_threshold, lang=cfg.lang
    ).select("doc_id", "scrubbed", F.col("drop_reason").alias("_cr"), "split")
    if cfg.strata_col:
        # the stratum rides in the ledger: no later stage reads docs
        ledger = ledger.join(docs.select("doc_id", cfg.strata_col), "doc_id")
    ledger = ledger.transform(snapshot)
    kept1 = ledger.filter(F.col("_cr").isNull()).select(
        "doc_id", F.col("scrubbed").alias("text")
    )

    clusters = (
        dd.dedup_clusters(
            kept1, n=cfg.dedup_n, num_hashes=cfg.num_hashes, bands=cfg.bands
        )
        .select("doc_id", "cluster_id", "is_canonical")
        .transform(snapshot)
    )
    canon = kept1.join(
        clusters.filter("is_canonical").select("doc_id"), "doc_id"
    )

    cont = (
        prep.decontaminate(canon, eval_df, n=cfg.decontaminate_n)
        .select("doc_id", "contaminated")
        .transform(snapshot)
    )
    audit = (
        ledger.select("doc_id", "_cr", "split")
        .join(clusters, "doc_id", "left")
        .join(cont, "doc_id", "left")
    )

    if cfg.strata_col:
        surv = (
            ledger.join(cont.filter(~F.col("contaminated")), "doc_id")
            .select("doc_id", cfg.strata_col)
        )
        if cfg.temperature_alpha is not None:
            samp = prep.temperature_sample(
                surv,
                strata_col=cfg.strata_col,
                alpha=cfg.temperature_alpha,
                target_frac=cfg.target_frac,
            )
        else:
            samp = prep.stratified_sample(
                surv, cfg.sample_rates, strata_col=cfg.strata_col
            )
        samp = samp.select("doc_id", F.col("sampled").alias("_s"))
        audit = audit.join(samp.transform(snapshot), "doc_id", "left")
    else:
        # no sampling: every survivor is sampled, so the gate never fires
        audit = audit.withColumn("_s", F.lit(True))
    # first gate that fired: later gates are NULL for earlier drops, so
    # coalesce picks the earliest (when(NULL-cond) yields NULL and is
    # skipped)
    reason = F.coalesce(
        F.col("_cr"),
        F.when(~F.col("is_canonical"), F.lit("near_dup")),
        F.when(F.col("contaminated"), F.lit("contaminated")),
        F.when(~F.col("_s"), F.lit("sampled_out")),
    )
    kept = reason.isNull()
    return audit.select(
        "doc_id",
        "cluster_id",
        kept.alias("kept"),
        reason.alias("drop_reason"),
        F.when(kept, F.col("split")).alias("split"),
    )


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    eval_df: DataFrame,
    cfg: CurationConfig,
) -> dict:
    """Execute + persist: `audit` (every input doc, decision, reason),
    `clean_docs` (kept docs: scrubbed text, split, packing layout),
    `_corpus_stats` (ROLLUP of kept docs by split). Resumable by step
    via the run manifest, same contract as ``pipeline.run``."""
    run_id = cfg.run_id or uuid.uuid4().hex[:12]
    cat = Catalog(spark, cfg.out_root)
    man = RunManifest(cfg.out_root, run_id)
    t0 = time.time()

    if not man.is_committed("audit"):
        cat.write(build_audit(docs, eval_df, cfg), "audit")
        man.commit("audit", {"path": cat.path("audit")})

    if not man.is_committed("clean"):
        kept = cat.read("audit").filter("kept").select("doc_id", "split")
        # join FIRST, scrub the survivors: the multi-regex scrub over
        # dropped documents would be wasted work (at the target scale
        # the drop rate is the point of curation)
        clean = prep.scrub_text(docs.join(kept.select("doc_id"), "doc_id")).select(
            "doc_id", F.col("scrubbed").alias("text")
        ).join(kept, "doc_id")
        # pack WITHIN each split: a pack mixing train and test text is
        # test-set leakage the moment sequences are assembled. Pack
        # identity in clean_docs is therefore (split, shard, pack_id).
        packed = prep.pack_sequences(
            clean,
            budget=cfg.pack_budget,
            n_shards=cfg.pack_shards,
            partition_cols=("split",),
        )
        cat.write(
            clean.join(packed.drop("split"), "doc_id").select(
                "doc_id", "text", "split", "shard",
                "pack_id", "pack_offset", "n_tokens",
            ),
            "clean_docs",
        )
        man.commit("clean", {"path": cat.path("clean_docs")})

    if not man.is_committed("stats"):
        cat.write(
            ts.corpus_stats(cat.read("clean_docs"), by=("split",)),
            "_corpus_stats",
        )
        man.commit("stats")

    audit = cat.read("audit")
    by_reason = {
        r["drop_reason"] or "kept": r["n"]
        for r in audit.groupBy("drop_reason").agg(F.count("*").alias("n")).collect()
    }
    wall = time.time() - t0
    return {
        "run_id": run_id,
        "n_in": sum(by_reason.values()),
        "n_kept": by_reason.get("kept", 0),
        "by_reason": by_reason,
        "wall_sec": wall,
        "committed": man.committed_steps(),
    }
