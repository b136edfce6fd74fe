"""Operator-level tests for the training-data functions (dedup /
similarity / textstats / multimodal plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otel2pv_spark.entry_queries import docs_fixture
from otel2pv_spark.functions import dedup as dd
from otel2pv_spark.functions import multimodal as mm
from otel2pv_spark.functions import similarity as sim
from otel2pv_spark.functions import textstats as ts


def test_exact_dedup_finds_planted_dups(spark, sf_dir):
    d = docs_fixture(spark, sf_dir)
    groups = dd.exact_dedup(d)
    n_dup_groups = groups.filter("n_docs > 1").count()
    planted = d.filter("doc_id >= 100000 and doc_id < 200000").count()
    assert n_dup_groups == planted  # every exact copy forms a 2-group


def test_minhash_lsh_recall_on_exact_dups(spark, sf_dir):
    """Exact duplicates share every shingle → identical signatures →
    must ALWAYS be candidates (LSH recall 1.0 on identical docs)."""
    d = docs_fixture(spark, sf_dir)
    cand = set(
        (r.doc_a, r.doc_b) for r in dd.minhash_lsh_candidates(d).collect()
    )
    exact_pairs = set(
        (r.doc_id, r.doc_id + 100000)
        for r in d.filter("doc_id % 7 = 0 and doc_id < 100000").collect()
    )
    assert exact_pairs <= cand


class TestConvMinhash:
    """Mergeable per-turn conversation MinHash (r3 verdict scale-killer
    fix): must equal the whole-conversation concat formulation exactly,
    while never holding a conversation as one row."""

    def _concat_form(self, tr):
        conv = tr.groupBy("conv_id").agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text")
        )
        return dd.minhash_lsh_candidates(conv, id_col="conv_id")

    def test_equals_concat_formulation(self, spark):
        """Two conversations with the SAME global token stream split
        differently across turn boundaries must produce identical
        signatures (boundary shingles preserved), and the candidate
        set must equal the concat form's on a replayed-session
        fixture. Includes token-empty and short turns."""
        rows = []
        for c in range(8):
            base = [
                f"alpha beta gamma delta run {c % 2}",
                "epsilon zeta", "", "eta",
                f"theta iota kappa session done {c % 2}",
            ]
            for i, t in enumerate(base):
                rows.append((f"conv-{c}", i, t))
        # same stream as conv-0, re-split mid-token-run across turns
        rows += [
            ("resplit-0", 0, "alpha beta gamma"),
            ("resplit-0", 1, "delta run 0 epsilon"),
            ("resplit-0", 2, "zeta eta theta iota kappa session done 0"),
        ]
        tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
        got = {
            (r.doc_a, r.doc_b)
            for r in dd.conv_minhash_lsh_candidates(tr).collect()
        }
        want = {
            (r.doc_a, r.doc_b) for r in self._concat_form(tr).collect()
        }
        assert got == want and got  # identical and non-vacuous
        # the re-split conversation collides with its even twins
        assert ("conv-0", "resplit-0") in got

    def test_wide_signature_matches_concat_signature(self, spark):
        rows = [("c1", i, f"tok{i} tok{i+1} shared phrase here") for i in range(6)]
        rows += [("c2", 0, " ".join(f"tok{i} tok{i+1} shared phrase here" for i in range(6)))]
        tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
        wide = {r.conv_id: tuple(r)[1:] for r in dd.conv_minhash_wide(tr).collect()}
        # c2 is c1's turns pre-concatenated -> identical signature
        assert wide["c1"] == wide["c2"]

    def test_duplicate_turn_idx_deterministic_and_equal(self, spark):
        """Replayed ingest: rows sharing a turn_idx must carry in the
        SAME total order as the concat oracle's sort_array(struct(
        turn_idx, text)) — (idx, text) window order (review finding:
        idx alone left dup order unspecified)."""
        rows = [
            ("dup", 0, "zeta yoke xray"),
            ("dup", 1, "beta alpha gamma run"),
            ("dup", 1, "alpha beta gamma run"),  # same idx, differs in text
            ("dup", 2, "omega psi chi closing words"),
            ("other", 0, "totally different conversation text here"),
        ]
        tr = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        )
        wides = [
            {r.conv_id: tuple(r)[1:] for r in dd.conv_minhash_wide(tr).collect()}
            for _ in range(3)
        ]
        assert wides[0] == wides[1] == wides[2]  # run-to-run stable
        got = {
            (r.doc_a, r.doc_b)
            for r in dd.conv_minhash_lsh_candidates(tr).collect()
        }
        want = {
            (r.doc_a, r.doc_b) for r in self._concat_form(tr).collect()
        }
        assert got == want

    def test_block_salted_equals_unsalted(self, spark):
        """block_size carry (per-block tail summaries chained in block
        order) must produce IDENTICAL signatures to the per-conv window
        — across block boundaries, blocks with a single surviving turn,
        all-empty blocks, duplicate turn_idx, and gapped indices. Tiny
        B=2/B=3 so every boundary case fires."""
        rows = []
        for c in range(4):
            texts = [
                f"alpha bravo charlie {c}", "delta", "", "echo foxtrot",
                "golf", "", "", "hotel india juliett kilo",
                f"lima mike {c % 2}", "november",
            ]
            for i, t in enumerate(texts):
                rows.append((f"c{c}", i * 3, t))  # gapped indices
        rows.append(("c0", 3, "dup turn text here"))  # dup idx vs 'delta'? idx 3 = i=1*3
        tr = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        )
        base = {
            r.conv_id: tuple(r)[1:]
            for r in dd.conv_minhash_wide(tr).collect()
        }
        for B in (2, 3, 7):
            salted = {
                r.conv_id: tuple(r)[1:]
                for r in dd.conv_minhash_wide(tr, block_size=B).collect()
            }
            assert salted == base, B

    def test_block_salted_plan_has_no_per_conv_turn_window(self, spark):
        """The salted plan's only per-conv-ordered window runs over
        BLOCK SUMMARIES: every window partitioning on conv_id alone
        must consume the block-tail fold, and turn-row windows must be
        keyed by (conv, block)."""
        tr = spark.createDataFrame(
            [("c", i, f"some text {i}") for i in range(50)],
            "conv_id string, turn_idx int, text string",
        )
        wide = dd.conv_minhash_wide(tr, block_size=8)
        plan = wide._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            if "windowspecdefinition(conv_id" in line and "_blk" not in line:
                # conv-only window: must be the block-summary fold
                # (collects _btail), never turn tokens (_w)
                assert "_btail" in line, line

    def test_hot_conversation_no_unbounded_collect(self, spark):
        """A 10^5-turn conversation: the plan must contain no
        AGGREGATE-side collect_list (whole-conversation
        materialization); the only collect_list allowed is the bounded
        window-frame carry."""
        n = 100_000
        tr = (
            spark.range(n)
            .select(
                F.lit("hot").alias("conv_id"),
                F.col("id").cast("int").alias("turn_idx"),
                F.concat(
                    F.lit("turn text payload number "),
                    (F.col("id") % 50).cast("string"),
                ).alias("text"),
            )
            .union(
                spark.range(20).select(
                    F.concat(F.lit("cold-"), F.col("id").cast("string")),
                    F.col("id").cast("int"),
                    F.concat(F.lit("other convo text "), F.col("id").cast("string")),
                )
            )
        )
        wide = dd.conv_minhash_wide(tr)
        plan = wide._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            if "collect_list" in line:
                assert "windowspecdefinition" in line, line
        # bounded frame, not unbounded-preceding
        assert "unboundedpreceding" not in plan.lower().replace(" ", "").replace("$", "")
        # and it actually runs on the hot fixture
        assert dd.conv_minhash_lsh_candidates(tr).count() >= 0


def test_jaccard_restricted_by_candidates(spark, sf_dir):
    d = docs_fixture(spark, sf_dir)
    cand = dd.minhash_lsh_candidates(d)
    verified = dd.ngram_jaccard_pairs(d, threshold=0.5, candidates=cand)
    allpairs = dd.ngram_jaccard_pairs(d, threshold=0.5)
    v = set((r.doc_a, r.doc_b) for r in verified.collect())
    a = set((r.doc_a, r.doc_b) for r in allpairs.collect())
    assert v <= a and len(v) > 0
    # exact dups have jaccard 1.0 and land in both
    assert all(
        r.jaccard == 1.0
        for r in verified.filter(
            "doc_a < 100000 and doc_a % 7 = 0 and doc_b = doc_a + 100000"
        ).collect()
    )


def test_simhash_close_for_neardups(spark, sf_dir):
    d = docs_fixture(spark, sf_dir)
    sh = {r.doc_id: r.simhash for r in dd.simhash(d).collect()}
    # exact dup → identical fingerprint
    base = [k for k in sh if k < 100000 and k % 7 == 0 and k + 100000 in sh]
    assert base and all(sh[k] == sh[k + 100000] for k in base)
    # near dup → small hamming distance
    near = [k for k in sh if k < 100000 and k % 11 == 0 and k + 200000 in sh]
    hams = [bin(sh[k] ^ sh[k + 200000]).count("1") for k in near]
    assert near and sum(hams) / len(hams) < 8


def test_cosine_topk_self_similarity_excluded(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=4).collect()
    assert all(r.neighbor_id != r.query_id for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4]
        sims = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def test_lsh_topk_subset_of_bucket(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    anchors = sim.make_anchors(emb, 4)
    buckets = {r.vec_id: r.bucket for r in sim.lsh_buckets(emb, anchors).collect()}
    out = sim.lsh_topk(emb, emb.filter(F.col("vec_id") < 3), anchors, k=3).collect()
    assert out
    for r in out:
        assert buckets[r.neighbor_id] == buckets[r.query_id]


def test_lsh_ivf_topk_two_level_shape(spark, sf_dir):
    """r3 verdict wrong #2: lsh_topk/ivf_topk must rank via the shared
    two-level top-k (partition-bounded partial + tiny final merge), not
    a single per-query window — LSH buckets / k-means cells are
    data-dependent, so a hot bucket would land a query's entire
    candidate list in ONE window task."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    anchors = sim.make_anchors(emb, 4)
    for out in (
        sim.lsh_topk(emb, q, anchors, k=3),
        sim.ivf_topk(emb, q, anchors, k=3, nprobe=2),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "_pid" in plan  # partial level keyed by input partition


def test_lsh_topk_hot_bucket_single_bucket_corpus(spark):
    """Degenerate LSH: EVERY vector lands in one bucket (all-positive
    components -> all sign bits set). The two-level ranking must
    complete and equal brute force — the single-task candidate sort
    this guards against would still 'pass' at this size, so the plan
    shape test above is the real gate; this one proves correctness in
    the hot-bucket regime."""
    emb = spark.range(200).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(
            *[
                (F.col("id") % (i + 7) + 1).cast("double") / (i + 3)
                for i in range(8)
            ]
        ).alias("embedding"),
    )
    anchors = sim.make_anchors(emb, 4)
    buckets = sim.lsh_buckets(emb, anchors).select("bucket").distinct().collect()
    assert len(buckets) == 1  # genuinely degenerate
    q = emb.filter(F.col("vec_id") < 3)
    got = sorted(map(tuple, sim.lsh_topk(emb, q, anchors, k=5).collect()))
    brute = sorted(map(tuple, sim.cosine_topk(emb, q, k=5).collect()))
    assert got == brute


def test_pq_refine_rerank_join_broadcasts(spark, sf_dir):
    """r3 verdict wrong #3: the |Q|·R shortlist must broadcast against
    the corpus scan in the exact re-rank — no sort-merge shuffle of the
    corpus side (pinned plan shape)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = sim.pq_train(emb, m=4, ksub=8)
    q = emb.filter(F.col("vec_id") < 3)
    ref = sim.pq_refine_topk(emb, q, cb, k=3, refine_r=10)
    plan = ref._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    rerank = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "neighbor_id" in ln
    ]
    assert rerank and all("BroadcastHashJoin" in ln for ln in rerank)


def test_multimodal_features_deterministic_and_batched(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = mm.attach_fake_media(docs)
    f1 = {r.doc_id: r.features for r in mm.extract_features(media).collect()}
    f2 = {r.doc_id: r.features for r in mm.extract_features(media.repartition(7)).collect()}
    assert f1 == f2  # partitioning-invariant
    assert all(len(v) == mm.FEATURE_DIM for v in f1.values())
    assert all(0.0 <= v[0] <= 1.0 for v in f1.values())


def test_media_column_pruned_for_metadata(spark, sf_dir):
    """Column pruning: the metadata projection must not carry the
    binary column through the plan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    meta = mm.media_metadata(mm.attach_fake_media(docs))
    plan = meta._jdf.queryExecution().executedPlan().toString()
    assert "media#" not in plan.split("Project")[0]


def test_ivf_assign_partitions_corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = sim.make_anchors(emb, 4)
    assigned = sim.ivf_assign(emb, cents).collect()
    # every vector gets exactly one cluster in [0, 4)
    assert len(assigned) == emb.count()
    assert all(0 <= r.cluster < 4 for r in assigned)
    # a centroid vector's nearest centroid is itself (cosine 1.0)
    by_id = {r.vec_id: r.cluster for r in assigned}
    for rank, r in enumerate(
        emb.orderBy("vec_id").limit(4).collect()
    ):
        assert by_id[r.vec_id] == rank


def test_ivf_topk_candidates_come_from_probed_clusters(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = sim.make_anchors(emb, 4)
    clusters = {r.vec_id: r.cluster for r in sim.ivf_assign(emb, cents).collect()}
    out = sim.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), cents, k=3, nprobe=2
    ).collect()
    assert out
    for r in out:
        assert r.neighbor_id != r.query_id
        assert clusters[r.neighbor_id] in set(clusters.values())
    # nprobe=C recovers the brute-force answer
    full = sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), cents, k=3, nprobe=4)
    brute = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=3)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))


def test_resize_media_shape_and_determinism(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = mm.attach_fake_media(docs)
    out = mm.resize_media(media, 32, 24)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r.media_width == 32 and r.media_height == 24 for r in rows)
    assert all(r.media_n_bytes == len(r.media) for r in rows)
    again = {r.doc_id: bytes(r.media) for r in mm.resize_media(media.repartition(5), 32, 24).collect()}
    assert {r.doc_id: bytes(r.media) for r in rows} == again


def test_sample_frames_one_to_many(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = mm.attach_fake_media(docs)
    n_docs = docs.count()
    out = mm.sample_frames(media, 3)
    assert out.count() == 3 * n_docs
    per = out.groupBy("doc_id").count().collect()
    assert all(r["count"] == 3 for r in per)
    # distinct bytes per frame index, deterministic across partitionings
    one = out.filter(F.col("doc_id") == per[0].doc_id).collect()
    assert len({bytes(r.frame) for r in one}) == 3


def test_pq_adc_topk_properties(spark, sf_dir):
    """PQ codes are in range and deterministic under repartitioning;
    ADC distances are non-negative and rank-consistent; ADC top-1
    overlaps the exact top-5 for most queries (compression is lossy
    but must not be noise)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = sim.pq_train(emb, m=4, ksub=4, iters=2)
    assert cb.count() == 16  # m x ksub

    codes = sim.pq_encode(emb, cb).collect()
    assert len(codes) == emb.count() * 4
    assert all(0 <= r.code <= 3 and 0 <= r.sub <= 3 for r in codes)
    again = sim.pq_encode(
        emb.repartition(7), sim.pq_train(emb.repartition(5), m=4, ksub=4, iters=2)
    ).collect()
    assert sorted(map(tuple, codes)) == sorted(map(tuple, again))

    q = emb.filter(F.col("vec_id") < 8)
    adc = sim.pq_adc_topk(emb, q, cb, k=5).collect()
    assert len(adc) == 40
    assert all(r.adist >= 0 for r in adc)
    for rows in [sorted([r for r in adc if r.query_id == qid], key=lambda r: r.rank)
                 for qid in range(8)]:
        assert [r.adist for r in rows] == sorted(r.adist for r in rows)

    # recall: on the RAW corpus (i.i.d. random vectors) distances
    # concentrate and no 8-bit code preserves ranking — so recall is
    # asserted on the seeded near-dup fixture instead, where each
    # scaled copy's true nearest neighbor (its source, L2 margin ~100x)
    # must survive quantization at a realistic code size (m=8, ksub=8)
    from otel2pv_spark.entry_queries import emb_fixture

    fix = emb_fixture(spark, sf_dir)
    cb8 = sim.pq_train(fix, m=8, ksub=8, iters=2)
    copies = fix.filter(
        (F.col("vec_id") >= 100000) & (F.col("vec_id") < 200000)
    )
    n_copies = copies.count()
    top1 = {
        r.query_id: r.neighbor_id
        for r in sim.pq_adc_topk(fix, copies, cb8, k=1).collect()
    }
    hits = sum(1 for qid, nid in top1.items() if nid == qid - 100000)
    assert hits >= int(0.8 * n_copies), f"near-dup recall {hits}/{n_copies}"


def test_ivf_train_improves_quantizer(spark, sf_dir):
    """Lloyd iterations must not worsen the coarse-quantizer objective
    (mean best-centroid cosine), and must be deterministic under
    repartitioning; empty clusters keep their previous centroid."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def objective(centroids):
        v = emb.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
        )
        c = centroids.select(F.col("anchor_rank").alias("cid"), F.col("embedding").alias("cvec"))
        j = v.crossJoin(F.broadcast(c))
        s = sim._dot(F.col("embedding"), F.col("cvec")) / (
            sim._norm(F.col("embedding")) * sim._norm(F.col("cvec"))
        )
        return (
            j.select("vec_id", s.alias("s"))
            .groupBy("vec_id").agg(F.max("s").alias("best"))
            .agg(F.avg("best")).collect()[0][0]
        )

    raw = sim.make_anchors(emb, 4)
    trained = sim.ivf_train(emb, k=4, iters=2)
    assert objective(trained) >= objective(raw) - 1e-9

    a = sorted(map(tuple, trained.collect()))
    b = sorted(map(tuple, sim.ivf_train(emb.repartition(7), k=4, iters=2).collect()))
    assert [(r[0], [round(x, 6) for x in r[1]]) for r in a] == [
        (r[0], [round(x, 6) for x in r[1]]) for r in b
    ]
    # trained centroids plug into the existing assign/topk shape
    assigned = sim.ivf_assign(emb, trained)
    assert assigned.count() == emb.count()
    assert {r["cluster"] for r in assigned.collect()} <= {0, 1, 2, 3}


def test_dedup_clusters_transitive(spark, sf_dir):
    """A≈B and B≈C must land in ONE cluster even when A,C never share a
    band; exact-copy chains from the fixture (base, +100000, +200000 for
    ids divisible by both 7 and 11) collapse transitively; singletons
    keep themselves as canonical."""
    out = dd.dedup_clusters(docs_fixture(spark, sf_dir))
    rows = {r["doc_id"]: r for r in out.collect()}
    # base doc 0: its exact copy 100000 must share the cluster
    assert rows[100000]["cluster_id"] == rows[0]["cluster_id"] == 0
    assert rows[0]["is_canonical"] and not rows[100000]["is_canonical"]
    # 77 = 7*11: base + exact copy + near copy, one transitive cluster
    c77 = {d for d, r in rows.items() if r["cluster_id"] == rows[77]["cluster_id"]}
    assert {77, 100077, 200077} <= c77
    # cluster sizes are consistent with membership
    from collections import Counter

    sizes = Counter(r["cluster_id"] for r in rows.values())
    assert all(r["cluster_size"] == sizes[r["cluster_id"]] for r in rows.values())
    # every doc labeled exactly once, label is a member <= all members
    assert all(r["cluster_id"] <= d for d, r in rows.items())


def test_repetition_scores_golden(spark):
    from otel2pv_spark.functions import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "all words here are fully distinct tokens okay"),
            (3, "ab"),  # single token: no n-grams at all
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in ts.repetition_scores(df).collect()}
    # doc 1: every 2-gram is "spam spam" -> top2 = dup2 = 1.0
    assert got[1]["top2_frac"] == 1.0 and got[1]["dup2_frac"] == 1.0
    assert got[1]["is_repetitive"]
    # doc 2: all n-grams unique
    assert got[2]["dup2_frac"] == 0.0 and got[2]["top3_frac"] > 0
    assert not got[2]["is_repetitive"]
    # doc 3: zero n-grams, guarded denominators
    assert got[3]["n_2grams"] == 0 and got[3]["top2_frac"] == 0.0
    assert not got[3]["is_repetitive"]


def test_incremental_dedup_equals_full_minus_old_pairs(spark, sf_dir):
    """Append-batch candidates must be exactly the full-corpus
    candidate pairs touching >=1 new doc — no old x old recompute, no
    missed new x old pair."""
    fix = docs_fixture(spark, sf_dir)
    new = fix.filter(F.col("doc_id") >= 100000)
    old = fix.filter(F.col("doc_id") < 100000)
    inc = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_candidates_incremental(
            new, dd.minhash_band_table(old)
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_candidates(fix).collect()
    }
    want = {p for p in full if p[0] >= 100000 or p[1] >= 100000}
    assert inc == want and len(inc) > 0


def test_jaccard_estimate_exact_copies_score_one(spark, sf_dir):
    """Exact copies share every minhash -> estimate 1.0; the estimate
    correlates with the exact Jaccard on near-dup pairs (within the
    resolution of a 12-hash signature)."""
    fix = docs_fixture(spark, sf_dir)
    cand = dd.minhash_lsh_candidates(fix)
    est = {
        (r["doc_a"], r["doc_b"]): r["jaccard_est"]
        for r in dd.minhash_jaccard_estimate(fix, cand).collect()
    }
    assert len(est) > 0
    # (a, a+100000) with a < 100000 are the EXACT copies; (100k, 200k)
    # pairs also differ by 100000 but are exact-vs-near copies
    exact_pairs = [(a, b) for (a, b) in est if a < 100000 and b == a + 100000]
    assert exact_pairs and all(est[p] == 1.0 for p in exact_pairs)
    assert all(0.0 <= v <= 1.0 for v in est.values())


def test_validation_guards_raise(spark, sf_dir):
    """The new fail-loudly guards: m must divide dim (PQ), overlap in
    [0, chunk_tokens) (chunking), num_partitions in [1, 65536]
    (deterministic shuffle)."""
    from otel2pv_spark.functions import prep

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="must divide dim"):
        sim.pq_train(emb, m=6, ksub=4, iters=1)
    with pytest.raises(ValueError, match="overlap"):
        prep.chunk_documents(docs, chunk_tokens=64, overlap=-8)
    with pytest.raises(ValueError, match="overlap"):
        prep.chunk_documents(docs, chunk_tokens=8, overlap=8)
    with pytest.raises(ValueError, match="num_partitions"):
        prep.shuffle_deterministic(docs, num_partitions=-5)
    with pytest.raises(ValueError, match="num_partitions"):
        prep.shuffle_deterministic(docs, num_partitions=0)
    with pytest.raises(ValueError, match="empty corpus"):
        sim.pq_train(emb.filter("vec_id < 0"), m=4, ksub=4, iters=1)


def test_exact_substring_dedup_golden(spark):
    """Golden cases: cross-doc shared prefix, self-repetition, short and
    empty docs; removal = union of duplicated 8-gram windows."""
    rows = [
        (1, "a b c d e f g h i j unique tail one"),
        (2, "a b c d e f g h i j unique tail two"),
        (3, "totally different words here nothing repeats at all"),
        (4, "x y " * 6),  # 12 tokens of pure self-repetition
        (5, ""),
        (6, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dd.exact_substring_dedup(df, k=8).collect()
    }
    # docs 1/2 share tokens 1..12 ("a".."tail"): grams at pos 1..5 dup
    for d, keep in [(1, "one"), (2, "two")]:
        assert out[d]["n_dup_grams"] == 5
        assert out[d]["n_tokens_removed"] == 12
        assert out[d]["text_kept"] == keep
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["text_kept"].startswith("totally different")
    assert out[4]["text_kept"] == "" and out[4]["n_tokens_removed"] == 12
    assert out[5] ["n_tokens"] == 0 and out[5]["text_kept"] == ""
    assert out[6]["n_tokens_removed"] == 0 and out[6]["text_kept"] == "short doc"


def test_exact_substring_dedup_exact_copies_fully_removed(spark, sf_dir):
    """A doc and its planted exact copy (doc_id%7) lose ALL tokens when
    the doc has ≥ 8 tokens (every gram is duplicated)."""
    out = dd.exact_substring_dedup(docs_fixture(spark, sf_dir), k=8)
    copies = out.filter(
        (F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)
        & (F.col("n_tokens") >= 8)
    )
    assert copies.count() > 0
    assert copies.filter(F.col("n_tokens_removed") != F.col("n_tokens")).count() == 0


def test_lm_perplexity_golden(spark):
    """Hand-checkable LM scoring: a corpus where 'a b c' follows 'a b'
    every time (cond_prob 1 → 0 bits) and docs with unseen trigrams
    floor at unk_prob."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(4)] + [(10, "x y z"), (11, "a b")],
        ["doc_id", "text"],
    )
    lm = ts.ngram_lm(docs, n=3, min_count=2)
    assert {tuple(r) for r in lm.collect()} == {("a b c", 4, 4, 1.0)}
    out = {r["doc_id"]: r.asDict() for r in ts.lm_perplexity(docs, lm).collect()}
    # in-LM doc: P=1 → 0 bits, perplexity 1
    assert out[0]["n_ngrams"] == 1 and out[0]["bits_micro"] == 0
    assert out[0]["perplexity"] == 1.0
    # unseen trigram: -log2(1e-6) ≈ 19.93 bits
    assert out[10]["bits_micro"] == 19931569
    assert abs(out[10]["perplexity"] - 1e6) < 1.0
    # too short for a trigram: present with 0 ngrams and null scores
    assert out[11]["n_ngrams"] == 0 and out[11]["perplexity"] is None


def test_lm_perplexity_deterministic_under_repartition(spark, sf_dir):
    from otel2pv_spark.functions import textstats as ts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = ts.ngram_lm(docs, n=3, min_count=2)
    a = ts.lm_perplexity(docs, lm).collect()
    b = ts.lm_perplexity(docs.repartition(17), lm).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bpe_pair_counts_golden(spark):
    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame(
        [(1, "aab aab ab"), (2, "aab x")], ["doc_id", "text"]
    )
    # word counts: aab ×3, ab ×1, x ×1
    # pairs: aab → (a a), (a b); ab → (a b); x → none
    out = {r["pair"]: r["count"] for r in ts.bpe_pair_counts(docs).collect()}
    assert out == {"a a": 3, "a b": 4}


def test_bpe_train_golden(spark):
    """3 merges over a tiny corpus, checked against hand-derived greedy
    BPE: vocab {aab:3, ab:1, x:1}; round 1 pairs {(a,a):3, (a,b):4} →
    merge (a,b); round 2: aab→[a,ab]×3 gives (a,ab):3 → merge (a,ab);
    round 3: vocab is fully merged single symbols → no pairs → stop."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame(
        [(1, "aab aab ab"), (2, "aab x")], ["doc_id", "text"]
    )
    rows = [tuple(r) for r in ts.bpe_train(docs, n_merges=3).collect()]
    assert rows == [(1, "a", "b", "ab", 4), (2, "a", "ab", "aab", 3)]


def test_bpe_apply_greedy_semantics(spark):
    """Greedy left-to-right merge application, including the odd
    self-merge run that breaks space-delimited replace encodings:
    'aaaaa' under merge (a,a) must become [aa, aa, a], and rank order
    must chain (t+h then th+e)."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame(
        [(1, "aaaaa"), (2, "the theme"), (3, "ab")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_bpe_tokens"], r["bpe_text"])
        for r in ts.bpe_apply(
            docs, [("a", "a"), ("t", "h"), ("th", "e")]
        ).collect()
    }
    assert out[1] == (1, 3, "aa aa a")
    assert out[2] == (2, 4, "the the m e")
    assert out[3] == (1, 2, "a b")


def test_bpe_train_apply_matches_python_reference(spark):
    """End-to-end parity: train 3 merges on a seeded corpus and encode
    with them; every doc must match an independent pure-Python greedy
    BPE implementation."""
    import re as _re
    from collections import Counter

    from otel2pv_spark.functions import textstats as ts

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "the theme of the thesis is thorough",
        "aaa aaaa aaaaa baba abab",
        "in the inner inn din dinner",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    def toks(text):
        return [w for w in _re.split(r"[^a-z0-9]+", text.lower()) if w]

    def greedy(syms, left, right):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    vocab = Counter(w for t in texts for w in toks(t))
    seqs = {w: list(w) for w in vocab}
    ref_merges = []
    for rank in range(1, 4):
        pc = Counter()
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += vocab[w]
        (left, right), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        ref_merges.append((rank, left, right, left + right, c))
        seqs = {w: greedy(s, left, right) for w, s in seqs.items()}

    got = [tuple(r) for r in ts.bpe_train(docs, n_merges=3).collect()]
    assert got == ref_merges

    merges = [(m[1], m[2]) for m in ref_merges]
    enc = {
        r["doc_id"]: (r["n_tokens"], r["n_bpe_tokens"], r["bpe_text"])
        for r in ts.bpe_apply(docs, merges).collect()
    }
    for i, t in enumerate(texts):
        sw = [s for w in toks(t) for s in _apply_all(w, merges, greedy)]
        assert enc[i] == (len(toks(t)), len(sw), " ".join(sw))


def _apply_all(word, merges, greedy):
    syms = list(word)
    for left, right in merges:
        syms = greedy(syms, left, right)
    return syms


def test_lm_perplexity_zero_prob_gram_floors_at_unk(spark):
    """A gram PRESENT in the LM with cond_prob rounded to 0.0 must cost
    the unk floor (19.93 bits), not NULL→0 bits (review finding)."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    lm = spark.createDataFrame([("a b c", 0.0)], ["ngram", "cond_prob"])
    row = ts.lm_perplexity(docs, lm).collect()[0]
    assert row["n_ngrams"] == 1 and row["bits_micro"] == 19931569


def test_bm25_topk_golden(spark):
    """BM25 vs a hand-computed reference on a 3-doc corpus: idf is the
    Lucene ln((N-df+0.5)/(df+0.5)+1) form; scores quantized to
    micro-units exactly as the operator does."""
    import math

    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["query_id"], r["doc_id"]): (r["score_micro"], r["rank"])
        for r in ts.bm25_topk(docs, [("qa", "apple cherry")], k=3).collect()
    }

    n, k1, b = 3.0, 1.2, 0.75
    avgdl = (3 + 2 + 4) / 3.0
    dls = {1: 3.0, 2: 2.0, 3: 4.0}
    tfs = {("apple", 1): 2.0, ("cherry", 2): 1.0, ("cherry", 3): 3.0}
    dfs = {"apple": 1.0, "cherry": 2.0}

    def contrib(term, doc):
        idf = math.log((n - dfs[term] + 0.5) / (dfs[term] + 0.5) + 1.0)
        tf, dl = tfs[(term, doc)], dls[doc]
        return round(
            idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)) * 1e6
        )

    exp = {
        1: contrib("apple", 1),
        2: contrib("cherry", 2),
        3: contrib("cherry", 3),
    }
    ranks = sorted(exp, key=lambda d: (-exp[d], d))
    assert out == {
        ("qa", d): (exp[d], i + 1) for i, d in enumerate(ranks)
    }


def test_crossencoder_rerank_golden(spark):
    """Rerank scores exactly fake_ce_score over candidate pairs only:
    doc 3 is in the corpus but not a candidate, so it never reaches the
    kernel; ranks follow the exact double desc, tie-broken by doc_id."""
    from otel2pv_spark.functions import rerank as rr

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon")],
        ["doc_id", "text"],
    )
    queries = [("q1", "alpha")]
    cands = spark.createDataFrame(
        [("q1", 1), ("q1", 2)], ["query_id", "doc_id"]
    )
    rows = rr.crossencoder_rerank(docs, queries, cands, k=2).collect()

    exp = {
        1: rr.fake_ce_score("alpha", "alpha beta"),
        2: rr.fake_ce_score("alpha", "gamma delta"),
    }
    order = sorted(exp, key=lambda d: (-exp[d], d))
    got = {(r["query_id"], r["doc_id"]): (r["ce_score"], r["rank"]) for r in rows}
    assert set(d for _, d in got) == {1, 2}
    assert got == {
        ("q1", d): (round(exp[d], 6), i + 1) for i, d in enumerate(order)
    }


def test_crossencoder_rerank_bounded_by_k(spark):
    """k caps each query's output independently."""
    from otel2pv_spark.functions import rerank as rr

    docs = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(1, 7)], ["doc_id", "text"]
    )
    queries = [("q1", "one"), ("q2", "two")]
    cands = spark.createDataFrame(
        [(q, d) for q in ("q1", "q2") for d in range(1, 7)],
        ["query_id", "doc_id"],
    )
    out = rr.crossencoder_rerank(docs, queries, cands, k=3)
    per_q = {
        r["query_id"]: r["n"]
        for r in out.groupBy("query_id").count().withColumnRenamed("count", "n").collect()
    }
    assert per_q == {"q1": 3, "q2": 3}


def test_mine_hard_negatives_excludes_positives(spark, sf_dir):
    """Negatives = the exact top-k ranking with labeled positives
    removed: mining with positives = exact top-2 must reproduce ranks
    3..7 of the unrestricted ranking, re-numbered 1..5."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    full = sim.cosine_topk(emb, q, k=7).collect()
    pos = sim.cosine_topk(emb, q, k=2).select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )
    mined = sim.mine_hard_negatives(emb, q, pos, n=5).collect()

    expect = {
        (r.query_id, r.rank - 2): (r.neighbor_id, r.cosine)
        for r in full
        if r.rank > 2
    }
    got = {(r.query_id, r.rank): (r.neg_id, r.cosine) for r in mined}
    assert got == expect
    pos_set = {(r.query_id, r.vec_id) for r in pos.collect()}
    assert all((r.query_id, r.neg_id) not in pos_set for r in mined)


def test_covariance_moments_exact_vs_numpy(spark, sf_dir):
    """The op's cov entries equal the population covariance of the
    QUANTIZED vectors computed independently in numpy — exact to the
    output rounding, because both sides sum the same integers."""
    import numpy as np

    from otel2pv_spark.functions import reduce_dim as rd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = rd.covariance_moments(emb).collect()

    x = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    # Spark F.round is HALF_UP (ties away from zero); np.round is
    # half-to-even — mirror Spark's mode or exact-.5 cells drift.
    v = x * rd.DEFAULT_Q
    q = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
    n = q.shape[0]
    s1 = q.sum(axis=0)
    got_bad = []
    for r in rows:
        s = int((q[:, r.i].astype(object) * q[:, r.j].astype(object)).sum())
        cov = (s / n - (float(s1[r.i]) / n) * (float(s1[r.j]) / n)) / (
            rd.DEFAULT_Q * rd.DEFAULT_Q
        )
        if abs(r.cov - round(cov, 8)) > 1e-8 or r.n != n:
            got_bad.append((r.i, r.j, r.cov, round(cov, 8)))
    d = x.shape[1]
    assert len(rows) == d * (d + 1) // 2
    assert got_bad == []


def test_pca_components_orthonormal_descending(spark, sf_dir):
    """Driver-side eigh over the distributed covariance: components
    orthonormal, variances descending and matching numpy's eigh of the
    same matrix; projections reproduce centered dot products."""
    import numpy as np

    from otel2pv_spark.functions import reduce_dim as rd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    comps, variances, mean = rd.pca_components(emb, r=4)
    c = np.array(comps)
    assert np.allclose(c @ c.T, np.eye(4), atol=1e-9)
    assert variances == sorted(variances, reverse=True)

    proj = {
        r.vec_id: [r.pc0, r.pc1, r.pc2, r.pc3]
        for r in rd.pca_project(emb, comps, mean).collect()
    }
    x = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    ids = [r.vec_id for r in emb.orderBy("vec_id").collect()]
    expect = (x - np.array(mean)) @ c.T
    for row_i, vid in enumerate(ids):
        assert np.allclose(proj[vid], np.round(expect[row_i], 6), atol=1e-5)
    # top component captures the most variance of any component
    var_pc0 = np.var((x - np.array(mean)) @ c[0])
    assert abs(var_pc0 - variances[0]) < 1e-3 * max(1.0, variances[0])


def test_jl_project_golden(spark):
    """JL projection equals the Python-side matrix fold exactly."""
    from otel2pv_spark.functions import reduce_dim as rd

    vecs = [(1, [1.0, 2.0, -0.5, 3.0]), (2, [0.0, -1.0, 4.0, 0.25])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    mat = rd.jl_matrix(4, 3)
    got = {r.vec_id: (r.y0, r.y1, r.y2) for r in rd.jl_project(df, 3).collect()}
    for vid, v in vecs:
        exp = tuple(
            round(sum(x * w for x, w in zip(v, row)), 6) for row in mat
        )
        assert got[vid] == exp


def _gram_sql(dfq):
    """Reference for ``reduce_dim._gram_arrow``: explode-into-aggregate
    Gram sums, zero Python in the loop. Input is the already-quantized
    ``_qv`` column (materialized once per row — referencing the
    transform expression inside the pair lambdas would re-evaluate it
    per OUTER element). SQL's null semantics make it total: a null
    vector explodes to nothing, ``sum`` skips a null product and
    ``count(1)`` still counts a null element's row."""
    qv = F.col("_qv")
    cells = F.flatten(
        F.transform(
            qv,
            lambda xi, i: F.transform(
                F.slice(qv, i + 1, F.size(qv) - i),
                lambda xj, dj: F.struct(
                    i.alias("i"),
                    (i + dj).alias("j"),
                    (xi * xj).alias("p"),
                    xi.alias("a"),
                    xj.alias("b"),
                ),
            ),
        )
    )
    return (
        dfq.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg(
            F.sum("c.p").alias("s"),
            F.sum("c.a").alias("s_i"),
            F.sum("c.b").alias("s_j"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def test_covariance_methods_bit_identical(spark, sf_dir):
    """The Arrow Gram kernel sums the same quantized integers as the
    SQL explode reference — bit-for-bit, also with a null vector (adds
    to no cell, not counted), a null element (counts as 0, its row
    counts) and a shorter or longer vector (adds to the cells its own
    length spans) in the input, none of which may fail the job."""
    from otel2pv_spark.functions import reduce_dim as rd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    d = len(emb.head()["embedding"])
    n_clean = emb.count()
    null_elem = [0.5] + [None] + [0.25] * (d - 2)
    ragged = [[(-3, [0.25] * (d - 1))], [(-4, [0.125 * k for k in range(d + 1)])]]
    for extra in [[], [(-1, None)], [(-2, null_elem)], *ragged]:
        # one partition: the extra row shares an Arrow batch with the rest
        df = emb.unionByName(spark.createDataFrame(extra, emb.schema)).coalesce(1)
        dfq = rd._quantized(df, "embedding", rd.DEFAULT_Q)
        got = {tuple(r) for r in rd._gram_arrow(dfq).collect()}
        want = {
            tuple(r)
            for r in _gram_sql(dfq).select("i", "j", "s", "s_i", "s_j", "n").collect()
        }
        assert got == want
        rows = rd.covariance_moments(df).collect()
        # n is per cell, as SQL's count(1) over the explode
        assert {(r.i, r.j): r.n for r in rows} == {(w[0], w[1]): w[5] for w in want}
        if extra in ragged:
            continue
        assert len(rows) == d * (d + 1) // 2
        n_rows = n_clean + sum(v is not None for _, v in extra)
        assert {r.n for r in rows} == {n_rows}


def test_top_ngrams_golden(spark):
    """Counts and ranks match a hand-computed bigram table; ties break
    lexicographically; k caps the output."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the cat"),
            (2, "the cat ran"),
            (3, "a dog"),
        ],
        ["doc_id", "text"],
    )
    rows = ts.top_ngrams(docs, n=2, k=3).collect()
    got = [(r.ngram, r["count"], r.rank) for r in sorted(rows, key=lambda r: r.rank)]
    # "the cat" x3; every other bigram x1, lexicographic tiebreak
    assert got == [("the cat", 3, 1), ("a dog", 1, 2), ("cat ran", 1, 3)]


def test_rerank_drops_null_text_candidates(spark):
    """A candidate whose document text is NULL is unscorable and must
    be dropped (not silently stringified into a real md5 score)."""
    from otel2pv_spark.functions import rerank as rr

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None)], "doc_id long, text string"
    )
    cands = spark.createDataFrame(
        [("q1", 1), ("q1", 2)], ["query_id", "doc_id"]
    )
    rows = rr.crossencoder_rerank(docs, [("q1", "alpha")], cands, k=5).collect()
    assert [(r.doc_id, r.rank) for r in rows] == [(1, 1)]


def test_bm25_index_path_matches_direct(spark, sf_dir):
    """The index-served BM25 (corpus never re-read) must reproduce the
    direct-scan path exactly, scores and ranks."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = [("qa", "spark window join"), ("qb", "hash merge sort")]
    direct = {
        (r.query_id, r.doc_id): (r.score_micro, r.rank)
        for r in ts.bm25_topk(docs, queries, k=4).collect()
    }
    postings, stats = ts.bm25_index(docs)
    via_index = {
        (r.query_id, r.doc_id): (r.score_micro, r.rank)
        for r in ts.bm25_topk_from_index(postings, stats, queries, k=4).collect()
    }
    assert direct == via_index and direct


def test_conv_features_golden(spark):
    """Hand-computed per-conversation features over a 2-conv fixture."""
    from otel2pv_spark.functions import prep

    rows = [
        ("c1", 0, "user", "hello there", "", "2024-01-01 00:00:00"),
        ("c1", 1, "assistant", "hi", "", "2024-01-01 00:00:10"),
        ("c1", 2, "tool", "result xyz", "tool-3", "2024-01-01 00:01:00"),
        ("c1", 3, "tool", "more", "tool-3", "2024-01-01 00:02:00"),
        ("c2", 0, "user", "solo", "", "2024-01-01 05:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    )
    got = {r.conv_id: r.asDict() for r in prep.conv_features(df).collect()}
    c1 = got["c1"]
    assert (
        c1["n_turns"], c1["n_user"], c1["n_assistant"], c1["n_tool_calls"],
        c1["n_distinct_tools"], c1["chars_total"], c1["chars_max"],
        c1["duration_us"],
    ) == (4, 1, 1, 2, 1, len("hello there") + 2 + 10 + 4, 11, 120_000_000)
    c2 = got["c2"]
    assert (c2["n_turns"], c2["n_tool_calls"], c2["duration_us"]) == (1, 0, 0)


def test_two_level_topk_matches_naive_window(spark):
    """Property: the partial/final two-level construction returns the
    exact same rows+ranks as a naive single window, per group and
    globally, under an adversarial partitioning."""
    from pyspark.sql import Window

    from otel2pv_spark.functions.topk import two_level_topk

    rows = [
        ("g1", i, (i * 37) % 11) for i in range(40)
    ] + [("g2", i, (i * 13) % 7) for i in range(25)]
    df = spark.createDataFrame(rows, "g string, id int, score int").repartition(7)

    got = {
        (r.g, r.rank): (r.id, r.score)
        for r in two_level_topk(
            df, ["g"], [F.desc("score"), F.col("id")], k=5
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.desc("score"), F.col("id"))
    want = {
        (r.g, r.rank): (r.id, r.score)
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    assert got == want

    got_g = {
        r.rank: (r.id, r.score)
        for r in two_level_topk(
            df, [], [F.desc("score"), F.col("id"), F.col("g")], k=8
        ).collect()
    }
    wg = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("score"), F.col("id"), F.col("g")
    )
    want_g = {
        r.rank: (r.id, r.score)
        for r in df.withColumn("rank", F.row_number().over(wg))
        .filter(F.col("rank") <= 8)
        .collect()
    }
    assert got_g == want_g


def test_quality_histogram_merge_and_quantiles(spark, sf_dir):
    """Histogram state merges exactly (split-halves == full corpus)
    and bin-resolution quantiles bound the exact percentiles from
    above by at most one bin width."""
    from otel2pv_spark.functions import textstats as ts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r.source, r.bin): r.n for r in ts.quality_histogram(docs).collect()
    }
    merged_hist = ts.histogram_merge(
        ts.quality_histogram(docs.filter(F.col("doc_id") % 2 == 0)),
        ts.quality_histogram(docs.filter(F.col("doc_id") % 2 == 1)),
    )
    merged = {(r.source, r.bin): r.n for r in merged_hist.collect()}
    assert merged == full and full

    qq = ts.histogram_quantiles(merged_hist, qs=(0.5, 0.9))
    exact = {
        r.source: (r.p50, r.p90)
        for r in ts.quality_percentiles(docs, ps=(0.5, 0.9)).collect()
    }
    for r in qq.collect():
        lo_edge = r.upper_edge - 1.0 / 20
        p_exact = exact[r.source][0 if r.q == 0.5 else 1]
        assert lo_edge - 1e-9 <= p_exact <= r.upper_edge + 1e-9


def test_gopher_rules_golden(spark):
    """Each rule tripped by exactly the doc built to trip it (Rae et
    al. 2021 appendix A1.1 thresholds as integer cross-products)."""
    from otel2pv_spark.functions import textstats as ts

    good = "the quick brown fox jumps with energy and that is fine " * 6
    rows = [
        (1, good),                                   # passes everything
        (2, "the and short"),                        # < 50 words
        (3, good + " " + "# " * 20),                 # symbol ratio >= 0.1
        (4, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"),  # 100% bullets
        (5, good + "\nwait...\nmore...\nyet more...\nend..."),    # >30% ellipsis lines
        (6, "the and " + " ".join(["12345"] * 60)),  # alpha fraction < 0.8
        (7, " ".join(["zzz"] * 60)),                 # no stop words
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in ts.gopher_rules(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["ok_word_count"] is False
    assert out[3]["ok_symbol_ratio"] is False and out[3]["ok_word_count"] is True
    assert out[4]["ok_bullet_lines"] is False
    assert out[5]["ok_ellipsis_lines"] is False
    assert out[6]["ok_alpha_words"] is False
    assert out[7]["ok_stopwords"] is False
    # every failing doc is dropped
    assert all(not out[i]["keep"] for i in range(2, 8))


def test_lm_backoff_tiers_golden(spark):
    """Each trigram position lands on the tier Brants' recursion says:
    surviving trigram -> count ratio; pruned trigram with surviving
    suffix bigram -> 0.4-damped bigram ratio; neither -> 0.16-damped
    unigram."""
    import math

    from otel2pv_spark.functions import textstats as ts

    # 'a b c' x2 survives min_count=2 at the trigram tier; 'b c d'
    # appears once (pruned) but its suffix 'c d' appears twice ->
    # bigram tier; 'd e f' is all-singletons -> unigram tier.
    corpus = spark.createDataFrame(
        [(1, "a b c a b c d"), (2, "x c d e f y")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in ts.lm_backoff_score(corpus, min_count=2).collect()
    }
    # doc 1 trigrams: abc, bca, cab, abc, bcd -> abc x2 tri-tier
    assert out[1]["n_ngrams"] == 5 and out[1]["n_tri"] == 2
    # doc 2 trigrams: xcd, cde, def, efy -> no tri survives; 'c d' (x2)
    # gives xcd a bi-tier hit
    assert out[2]["n_tri"] == 0 and out[2]["n_bi"] >= 1
    assert out[2]["n_uni"] == out[2]["n_ngrams"] - out[2]["n_bi"]
    # tri-tier cost check: S(c|a b) = c(abc)/c(ab) = 2/2 = 1 -> 0 bits
    # for those two positions; all costs are nonneg micro-bit ints
    for d in (1, 2):
        assert out[d]["bits_micro"] >= 0
    # doc1's two tri positions contribute 0 bits (prob exactly 1):
    # recompute doc1's bi/uni residue and confirm the sum decomposes
    assert out[1]["n_bi"] + out[1]["n_uni"] == 3


def test_phash_neardup_pigeonhole_golden(spark):
    """Multi-index Hamming search: <=3 flips always pairs (pigeonhole
    guarantees a band match), 4 flips in one band is a candidate the
    exact filter must kill, 4 flips spread across all bands is never
    even a candidate."""
    from otel2pv_spark.functions import multimodal as mm

    rows = [
        (1, 100, 200, 300, 400),   # base
        (2, 101, 200, 298, 400),   # 3 bits flipped (^1, ^6) -> pair
        (3, 107, 200, 300, 400),   # 4 bits in band0 (^15) -> candidate, killed
        (4, 101, 201, 301, 401),   # 1 bit per band -> no band match w/ base
        (5, 100, 200, 300, 400),   # exact dup -> hamming 0
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "band0", "band1", "band2", "band3"]
    )
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in mm.phash_neardup(df, max_hamming=3).collect()
    }
    assert out[(1, 5)] == 0
    assert out[(1, 2)] == 3 and out[(2, 5)] == 3
    assert (1, 3) not in out and (1, 4) not in out
    # doc4 vs doc2: band0 101==101 matches -> candidate; xor hamming is
    # band1 1 + band2 (298^301=7 -> 3) + band3 1 = 5 -> killed
    assert (2, 4) not in out
    import pytest as _pt
    with _pt.raises(ValueError):
        mm.phash_neardup(df, max_hamming=4)


def test_normalize_text_golden(spark):
    """Two renderings of the same sentence collapse to one hash; digit
    and accent folding behave per CCNet (Wenzek et al. 2019)."""
    from otel2pv_spark.functions import textstats as ts

    rows = [
        (1, "  Él dijo: 42 Cafés!!  "),
        (2, "el dijo 00 cafes"),
        (3, "plain ascii stays put"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in ts.normalize_text(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1]["norm_text"] == "el dijo 00 cafes"
    assert out[1]["norm_hash"] == out[2]["norm_hash"]
    assert out[3]["norm_text"] == "plain ascii stays put"
    # punctuation retained when strip_punct=False
    kept = ts.normalize_text(
        spark.createDataFrame(rows, ["doc_id", "text"]), strip_punct=False
    ).collect()
    assert {r["doc_id"]: r["norm_text"] for r in kept}[1] == "el dijo: 00 cafes!!"


def test_train_linear_classifier_exact_and_learns(spark):
    """One GD iteration from zero weights is hand-checkable: err is
    +/-500000, gradients average exactly, lr=1/2 halves the step. And
    on a separable corpus the planted token's bucket goes positive."""
    import hashlib

    from otel2pv_spark.functions import textstats as ts

    def bucket(tok, dim=4):
        return int(hashlib.md5(f"{tok}#clf-train-v1".encode()).hexdigest()[:4], 16) % dim

    b_a, b_b = bucket("aa"), bucket("bb")
    assert b_a != b_b  # fixture relies on no collision at dim=4
    docs = spark.createDataFrame(
        [(1, "aa aa", 1), (2, "bb", 0)], ["doc_id", "text", "label"]
    )
    w = {
        r.bucket: r.weight_micro
        for r in ts.train_linear_classifier(docs, iters=1, dim=4).collect()
    }
    # doc1 err=-500000 on (b_a x2, bias), doc2 err=+500000 on (b_b, bias):
    # g(b_a) = -1e6/2, g(b_b) = 5e5/2, g(bias) = 0; step = g/2
    assert w[b_a] == 250_000
    assert w[b_b] == -125_000
    assert w[4] == 0
    # learnability: the 'spark' bucket dominates after 3 iterations
    corpus = spark.createDataFrame(
        [(1, "spark spark fast", 1), (2, "slow table row", 0),
         (3, "spark join", 1), (4, "row line sort", 0)],
        ["doc_id", "text", "label"],
    )
    w3 = {
        r.bucket: r.weight_micro
        for r in ts.train_linear_classifier(corpus, iters=3, dim=8).collect()
    }
    sb = bucket("spark", 8)
    assert w3[sb] == max(w3.values()) and w3[sb] > 0


def test_ranking_auc_golden_with_ties(spark):
    # scores: pos {3, 2, 2}, neg {2, 1, 0}
    # pairs (pos > neg): 3>2,3>1,3>0, 2>1,2>0 (x2) = 7; ties (2==2) x2 pos
    # AUC = (7 + 0.5*2) / 9 = 8/9
    rows = [(3, True), (2, True), (2, True), (2, False), (1, False), (0, False)]
    df = spark.createDataFrame(rows, "score_u bigint, label boolean")
    out = ts.ranking_auc(df).collect()[0]
    assert out["n_pos"] == 3 and out["n_neg"] == 3
    assert out["auc_num_x2"] == 16  # 2*7 + 2 ties
    assert out["auc_micro"] == 888888  # floor(16e6 / 18)
    assert abs(out["auc"] - 16 / 18) < 1e-6

    # degenerate: single class -> NULL auc, counts still exact
    one = spark.createDataFrame([(5, True), (1, True)], "score_u bigint, label boolean")
    row = ts.ranking_auc(one).collect()[0]
    assert row["n_pos"] == 2 and row["n_neg"] == 0
    assert row["auc"] is None and row["auc_micro"] is None

    # invariant to block size (two-level split is internal only)
    small = ts.ranking_auc(df, block=2).collect()[0]
    assert small["auc_num_x2"] == 16 and small["auc_micro"] == 888888


def test_hashed_embedding_consistency(spark):
    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "beta delta"),
        (3, ""),          # zero-token doc keeps an all-zero vector
        (4, None),        # null text too
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    emb = {r["doc_id"]: r for r in ts.hashed_embedding(df, dim=8).collect()}
    assert set(emb) == {1, 2, 3, 4}
    for r in emb.values():
        assert len(r["vec"]) == 8
        assert r["norm_sq"] == sum(v * v for v in r["vec"])
        assert r["nnz"] == sum(1 for v in r["vec"] if v != 0)
    assert all(v == 0 for v in emb[3]["vec"]) and emb[3]["norm_sq"] == 0
    assert all(v == 0 for v in emb[4]["vec"])

    # dense vec == densified sparse components
    comp = ts.hashed_components(df, dim=8).collect()
    dense = {i: [0] * 8 for i in (1, 2, 3, 4)}
    for c in comp:
        assert c["val"] != 0  # cancelled components dropped
        dense[c["doc_id"]][c["bucket"]] = c["val"]
    for i, r in emb.items():
        assert list(r["vec"]) == dense[i]


def test_sparse_dot_topk_matches_dense(spark):
    docs = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma delta"),
        (3, "epsilon zeta eta theta"),
        (4, "alpha epsilon"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    comp = ts.hashed_components(df, dim=16)
    got = {
        r["query_id"]: (r["neighbor_id"], r["dot"])
        for r in sim.sparse_dot_topk(comp, k=1).collect()
    }
    vecs = {r["doc_id"]: r["vec"] for r in ts.hashed_embedding(df, dim=16).collect()}

    def shares_bucket(va, vb):
        return any(a != 0 and b != 0 for a, b in zip(va, vb))

    for q, vq in vecs.items():
        best = max(
            (
                (sum(a * b for a, b in zip(vq, vn)), -n)
                for n, vn in vecs.items()
                if n != q and shares_bucket(vq, vn)
            ),
            default=None,
        )
        if best is None:
            assert q not in got  # no shared nonzero feature -> no candidate
        else:
            dot, neg_n = best
            assert got[q] == (-neg_n, dot)


def test_pair_lift_golden_staged_division(spark):
    """pair_lift: exact staged-BIGINT lift on a hand-computed corpus;
    min-support filter; deterministic tie order."""
    df = spark.createDataFrame(
        [(1, "red bolt red bolt"), (2, "red gear"), (3, "red bolt")],
        "doc_id long, text string",
    )
    got = {(r.x, r.y): r for r in ts.pair_lift(df, min_count=2, k=10).collect()}
    # tokens: red x4, bolt x3, gear x1; N = 8
    # pairs: (red,bolt) x3, (bolt,red) x1, (red,gear) x1 -> only
    # (red,bolt) reaches min_count=2
    assert set(got) == {("red", "bolt")}
    r = got[("red", "bolt")]
    assert (r.pair_count, r.x_count, r.y_count) == (3, 4, 3)
    # staged: (3 * 1e6) DIV 4 = 750000 ; 750000 * 8 DIV 3 = 2000000
    assert r.lift_micro == 2_000_000
    assert r.rank == 1


def test_pair_lift_rank_and_bounds(spark):
    """Lower min_count: every adjacent pair scored, ranks contiguous,
    lift positive, c_xy <= min(c_x, c_y) invariant holds."""
    df = spark.createDataFrame(
        [(1, "a b c a b"), (2, "c a b a")], "doc_id long, text string"
    )
    rows = ts.pair_lift(df, min_count=1, k=100).collect()
    assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.pair_count <= min(r.x_count, r.y_count)
        assert r.lift_micro > 0


class TestIvfadc:
    """TRUE IVFADC (pq_adc_topk centroids/nprobe mode): ADC over codes
    within the query's probed cells only — r3 verdict missing #1."""

    def test_candidates_only_from_probed_cells(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = sim.make_anchors(emb, 4)
        cb = sim.pq_train(emb, m=4, ksub=4, iters=2)
        q = emb.filter(F.col("vec_id") < 3)
        clusters = {
            r.vec_id: r.cluster for r in sim.ivf_assign(emb, cents).collect()
        }
        probed = {}
        for r in sim._ivf_probes(q, cents, 2, "vec_id", "embedding").collect():
            probed.setdefault(r.query_id, set()).add(r.cluster)
        out = sim.pq_adc_topk(emb, q, cb, k=5, centroids=cents, nprobe=2).collect()
        assert out
        for r in out:
            assert clusters[r.neighbor_id] in probed[r.query_id]

    def test_nprobe_all_cells_equals_flat_adc(self, spark, sf_dir):
        """Probing every cell must recover flat ADC exactly — the cell
        restriction is the ONLY difference."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = sim.make_anchors(emb, 4)
        cb = sim.pq_train(emb, m=4, ksub=4, iters=2)
        q = emb.filter(F.col("vec_id") < 3)
        flat = sorted(map(tuple, sim.pq_adc_topk(emb, q, cb, k=5).collect()))
        ivfadc = sorted(
            map(
                tuple,
                sim.pq_adc_topk(
                    emb, q, cb, k=5, centroids=cents, nprobe=4
                ).collect(),
            )
        )
        assert ivfadc == flat

    def test_ivfadc_refine_recall_vs_flat(self, spark, sf_dir):
        """On the seeded copy fixture: wherever the true neighbor's
        cell IS probed, IVFADC+refine must find it top-1 (exact
        distances inside the shortlist); documented misses are exactly
        the cell-miss cases (source assigned to an unprobed cell)."""
        from otel2pv_spark.entry_queries import emb_fixture

        fix = emb_fixture(spark, sf_dir)
        cents = sim.make_anchors(fix, 4)
        cb8 = sim.pq_train(fix, m=8, ksub=8, iters=2)
        copies = fix.filter(
            (F.col("vec_id") >= 100000) & (F.col("vec_id") < 200000)
        )
        clusters = {
            r.vec_id: r.cluster for r in sim.ivf_assign(fix, cents).collect()
        }
        probed = {}
        for r in sim._ivf_probes(copies, cents, 2, "vec_id", "embedding").collect():
            probed.setdefault(r.query_id, set()).add(r.cluster)
        ref = {
            r.query_id: r.neighbor_id
            for r in sim.pq_refine_topk(
                fix, copies, cb8, k=1, refine_r=20, centroids=cents, nprobe=2
            ).collect()
        }
        flat_short = {}
        for r in sim.pq_adc_topk(fix, copies, cb8, k=20).collect():
            flat_short.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = misses = 0
        for r in copies.select("vec_id").collect():
            qid, src = r.vec_id, r.vec_id - 100000
            if clusters[src] in probed[qid] and src in flat_short.get(qid, set()):
                # reachable: cell probed AND ADC ranks it into the
                # shortlist -> the exact re-rank must surface it
                assert ref.get(qid) == src, qid
                hits += 1
            else:
                misses += 1  # documented cell/shortlist miss
        assert hits > 0  # non-vacuous: the fixture exercises the path


def test_pq_refine_improves_or_matches_adc_recall(spark, sf_dir):
    """IVFADC+refine: exact re-rank of the ADC shortlist. On the seeded
    near-dup fixture, recall@1 (copy -> its source) must be >= plain
    ADC's, and wherever the true neighbor made the shortlist the
    refined top-1 must BE it (exact distances cannot rank the ~100x
    closer source below an unrelated vector)."""
    from otel2pv_spark.entry_queries import emb_fixture

    fix = emb_fixture(spark, sf_dir)
    cb8 = sim.pq_train(fix, m=8, ksub=8, iters=2)
    copies = fix.filter(
        (F.col("vec_id") >= 100000) & (F.col("vec_id") < 200000)
    )
    n = copies.count()
    adc_top1 = {
        r.query_id: r.neighbor_id
        for r in sim.pq_adc_topk(fix, copies, cb8, k=1).collect()
    }
    refined = sim.pq_refine_topk(fix, copies, cb8, k=1, refine_r=20)
    ref_top1 = {r.query_id: r.neighbor_id for r in refined.collect()}
    shortlist = {
        qid: {r.neighbor_id for r in rows}
        for qid, rows in __import__("itertools").groupby(
            sorted(
                sim.pq_adc_topk(fix, copies, cb8, k=20).collect(),
                key=lambda r: r.query_id,
            ),
            key=lambda r: r.query_id,
        )
    }
    adc_hits = sum(1 for q, nid in adc_top1.items() if nid == q - 100000)
    ref_hits = sum(1 for q, nid in ref_top1.items() if nid == q - 100000)
    assert ref_hits >= adc_hits, (ref_hits, adc_hits)
    assert ref_hits >= int(0.8 * n)
    for q, short in shortlist.items():
        if q - 100000 in short:
            assert ref_top1[q] == q - 100000, q

    # contract checks: rank ordering by exact dist, refine_r >= k guard
    rows = refined.collect()
    assert all(r.rank == 1 and r.dist >= 0 for r in rows)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refine_r"):
        sim.pq_refine_topk(fix, copies, cb8, k=5, refine_r=3)
