"""Golden + invariant tests for the training-data prep operators
(scrub / split / pack)."""

from __future__ import annotations

from pyspark.sql import functions as F

from otel2pv_spark.functions import prep


def test_scrub_golden(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@test.org or see https://x.io/p?q=123456789 now"),
            (2, "server 192.168.0.1 acct 1234567890 short 12345678"),
            (3, "clean text with no pii at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r.asDict() for r in prep.scrub_text(df).collect()}
    # URL is redacted before the email/digit stages see it: the 9-digit
    # run inside the URL counts as part of the URL, not as a number
    assert rows[1]["scrubbed"] == "mail me at <EMAIL> or see <URL> now"
    assert rows[1]["n_url"] == 1 and rows[1]["n_email"] == 1
    assert rows[1]["n_number"] == 0 and rows[1]["n_redactions"] == 2
    # 10-digit run redacted, 8-digit run kept (threshold is 9)
    assert rows[2]["scrubbed"] == "server <IP> acct <NUM> short 12345678"
    assert rows[2]["n_ip"] == 1 and rows[2]["n_number"] == 1
    assert rows[3]["scrubbed"] == rows[3]["scrubbed"] and rows[3]["n_redactions"] == 0


def test_split_deterministic_and_proportional(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = prep.assign_split(df, id_col="doc_id")
    b = prep.assign_split(df.repartition(7), id_col="doc_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # hash-uniform: 90/5/5 within a loose tolerance at n=2000
    assert 0.85 < counts["train"] / 2000 < 0.95
    assert 0.02 < counts["val"] / 2000 < 0.08
    assert 0.02 < counts["test"] / 2000 < 0.08
    # appending new rows never moves an existing row's split
    wider = prep.assign_split(
        spark.range(0, 3000).withColumnRenamed("id", "doc_id"), id_col="doc_id"
    )
    sub = {r["doc_id"]: r["split"] for r in wider.collect() if r["doc_id"] < 2000}
    orig = {r["doc_id"]: r["split"] for r in a.collect()}
    assert sub == orig


def test_split_custom_weights(spark):
    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    out = prep.assign_split(df, id_col="doc_id", splits=[("all", 1.0)])
    assert {r["split"] for r in out.collect()} == {"all"}


def test_pack_invariants(spark):
    df = spark.createDataFrame(
        [(i, "tok " * (i % 37 + 1)) for i in range(200)], ["doc_id", "text"]
    )
    out = prep.pack_sequences(df, budget=64, n_shards=4).collect()
    assert len(out) == 200
    by_shard: dict[int, list] = {}
    for r in out:
        assert 0 <= r["shard"] < 4
        assert 0 <= r["pack_offset"] < 64
        by_shard.setdefault(r["shard"], []).append(r)
    # within a shard ordered by doc_id the layout is head-to-tail:
    # offset advances by exactly n_tokens (mod budget), packs never
    # decrease, and each doc starts where the previous one ended
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["pack_id"] == cum // 64
            assert r["pack_offset"] == cum % 64
            cum += r["n_tokens"]


def test_pack_deterministic_under_repartition(spark):
    df = spark.createDataFrame(
        [(i, "word " * (i % 11 + 1)) for i in range(300)], ["doc_id", "text"]
    )
    a = sorted(map(tuple, prep.pack_sequences(df, budget=32, n_shards=8).collect()))
    b = sorted(
        map(tuple, prep.pack_sequences(df.repartition(13), budget=32, n_shards=8).collect())
    )
    assert a == b


def test_curate_decisions(spark):
    dup = "the fast table scan and the merge join is that good with data"
    df = spark.createDataFrame(
        [
            (1, dup),
            (2, dup),                                  # exact dup of 1 -> dropped
            (3, dup + " mail x@y.io"),                 # PII variant: scrubs...
            (4, dup + " mail z@w.org"),                # ...to the SAME text -> dup
            (5, "der die das und ist nicht mit ein der die das und"),  # German
            (6, "zz zz zz zz zz zz"),                  # low quality (repetitive), ties -> en
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r.asDict() for r in prep.curate(df).collect()}
    assert rows[1]["kept"] and rows[1]["drop_reason"] is None
    assert rows[2]["drop_reason"] == "duplicate"
    # scrubbing runs BEFORE dedup: 3 and 4 differ only in redacted PII
    assert rows[3]["kept"] or rows[3]["drop_reason"] == "duplicate"
    assert rows[4]["drop_reason"] == "duplicate"
    assert rows[5]["drop_reason"] == "lang"
    assert rows[6]["drop_reason"] == "quality"
    assert rows[6]["split"] is None and rows[6]["hash_frac"] is None
    # kept rows carry the same split assign_split would give
    frac = {r["doc_id"]: r for r in prep.assign_split(df, id_col="doc_id").collect()}
    for i, r in rows.items():
        if r["kept"]:
            assert r["split"] == frac[i]["split"]


def test_curate_dedup_shuffle_shape(spark):
    """The dedup flag is a map-side-combined aggregate + join on the
    content hash (skew-splittable), NOT a content-hash window (AQE
    cannot split a window partition holding a hot boilerplate doc):
    at most the agg + join exchanges, and no Window operator at all."""
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = prep.curate(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2


def test_decontaminate_flags_eval_overlap(spark):
    eval_df = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            # full 8-gram overlap with the eval doc
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # 7 shared tokens only: below the 8-gram bar
            (2, "alpha beta gamma delta epsilon zeta eta UNRELATED"),
            (3, "completely different words here and nothing shared at all ok"),
            (4, "short doc"),  # < 8 tokens: guarded shingle path
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in prep.decontaminate(docs, eval_df).collect()}
    assert got[1]["contaminated"] and got[1]["n_eval_ngrams"] == 1
    assert not got[2]["contaminated"]
    assert not got[3]["contaminated"]
    assert not got[4]["contaminated"] and got[4]["n_eval_ngrams"] == 0


def test_decontaminate_neardup_catches_edited_leak(spark):
    """The LSH tier must flag an eval doc lightly edited by an appended
    tail (every 8-gram crossing the edit breaks, but whole-doc Jaccard
    stays high) and the verbatim copy; an unrelated doc must not flag."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lamda mu nu xi omicron pi rho sigma tau upsilon"
    )
    eval_df = spark.createDataFrame([(0, base)], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [
            (1, base),  # verbatim
            (2, base + " appended tail words"),  # edited near-dup
            (3, "completely different words here and nothing shared at all ok"),
            (4, "tiny"),  # < n tokens: no signature, must still row out
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["contaminated"]
        for r in prep.decontaminate_neardup(docs, eval_df).collect()
    }
    assert got == {1: True, 2: True, 3: False, 4: False}


def test_stratified_sample_nested_and_deterministic(spark):
    df = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") % 3).cast("string")))
    )
    lo = prep.stratified_sample(df, {"s0": 0.25, "s1": 0.0})
    hi = prep.stratified_sample(df, {"s0": 0.5, "s1": 1.0})
    kept_lo = {r["doc_id"] for r in lo.collect() if r["sampled"]}
    kept_hi = {r["doc_id"] for r in hi.collect() if r["sampled"]}
    assert kept_lo <= kept_hi  # nested: lower rate is a subset
    again = {
        r["doc_id"]
        for r in prep.stratified_sample(df.repartition(11), {"s0": 0.25, "s1": 0.0}).collect()
        if r["sampled"]
    }
    assert kept_lo == again
    # absent stratum s2 -> rate 0, never sampled
    assert all(not r["sampled"] for r in lo.collect() if r["source"] == "s2")
    n0 = sum(1 for d in kept_lo if d % 3 == 0)
    assert 0.18 < n0 / 1000 < 0.32  # ~25% of s0


def test_temperature_sample_upweights_small_strata(spark):
    df = (
        spark.range(0, 2000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 20 == 0, "rare").otherwise("common"),
        )
    )
    out = prep.temperature_sample(df, alpha=0.5, target_frac=0.5)
    rates = {r["source"]: r["rate"] for r in out.select("source", "rate").distinct().collect()}
    assert rates["rare"] > rates["common"]  # alpha<1 upweights the small domain
    kept = out.filter("sampled").count()
    assert 0.4 * 2000 < kept < 0.6 * 2000  # expected total ~ target_frac*N
    # alpha=1 degenerates to uniform rates
    uni = prep.temperature_sample(df, alpha=1.0, target_frac=0.5)
    urates = {r["source"]: r["rate"] for r in uni.select("source", "rate").distinct().collect()}
    assert abs(urates["rare"] - urates["common"]) < 1e-9


def test_shuffle_deterministic_rank_is_dense_and_stable(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = prep.shuffle_deterministic(df, num_partitions=7)
    got = {r["doc_id"]: r["shuffle_rank"] for r in a.collect()}
    assert sorted(got.values()) == list(range(1, 501))  # dense 1..n
    b = prep.shuffle_deterministic(df.repartition(3), num_partitions=4)
    assert got == {r["doc_id"]: r["shuffle_rank"] for r in b.collect()}
    # matches the single-window reference order
    import hashlib
    want_order = sorted(range(500), key=lambda i: (hashlib.md5(f"{i}#shuffle-v1".encode()).hexdigest(), i))
    assert [got[i] for i in want_order] == list(range(1, 501))


def test_split_by_cluster_never_straddles(spark):
    """Leakage guard: every member of a near-dup cluster gets the same
    split (a dup pair can never land in train AND test)."""
    from otel2pv_spark.entry_queries import q_prep_split_by_cluster

    out = q_prep_split_by_cluster(spark, "/root/testdata/sf0.01").collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # fixture dup chains exist, so some clusters have >1 member
    from collections import Counter
    sizes = Counter(r["cluster_id"] for r in out)
    assert max(sizes.values()) >= 2


def test_chunk_documents_overlap_and_coverage(spark):
    toks = [f"w{i}" for i in range(130)]
    df = spark.createDataFrame([(1, " ".join(toks)), (2, "a b"), (3, "")],
                               ["doc_id", "text"])
    rows = {(r["doc_id"], r["chunk_idx"]): r
            for r in prep.chunk_documents(df, chunk_tokens=64, overlap=16).collect()}
    # doc 1: 130 tokens -> chunks at 0, 48, 96 (stride 48)
    c0, c1, c2 = rows[(1, 0)], rows[(1, 1)], rows[(1, 2)]
    assert c0["n_chunk_tokens"] == 64 and c1["n_chunk_tokens"] == 64
    assert c2["n_chunk_tokens"] == 130 - 96
    # consecutive chunks share exactly the 16-token overlap
    t0, t1 = c0["chunk_text"].split(), c1["chunk_text"].split()
    assert t0[-16:] == t1[:16] and t1 == toks[48:112]
    # full coverage: union of chunk tokens == doc tokens in order
    assert t0 + t1[16:] + c2["chunk_text"].split()[16:] == toks
    # short doc: one chunk, verbatim; empty doc: one empty chunk
    assert rows[(2, 0)]["chunk_text"] == "a b" and (2, 1) not in rows
    assert rows[(3, 0)]["n_chunk_tokens"] == 0


def test_dsir_weights_favor_target_like_docs(spark, sf_dir):
    """Docs that ARE the target slice (doc_id%50==0 appear in both the
    raw corpus and the eval target) must average a higher importance
    weight than the rest — the defining DSIR property. Also: weights
    and the ratio-table join must broadcast, never shuffle the corpus."""
    from otel2pv_spark.entry_queries import docs_fixture, eval_fixture

    out = prep.dsir_weights(
        docs_fixture(spark, sf_dir), eval_fixture(spark, sf_dir),
        n=2, buckets=256,
    )
    rows = out.collect()
    tgt = [r.log_weight_micro for r in rows if r.doc_id % 50 == 0 and r.doc_id < 100000]
    rest = [r.log_weight_micro for r in rows if r.doc_id % 50 != 0]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dsir_weights_zero_feature_docs_present(spark):
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "one")], ["doc_id", "text"]
    )
    tgt = spark.createDataFrame([(9, "alpha beta")], ["doc_id", "text"])
    got = {r.doc_id: r for r in prep.dsir_weights(raw, tgt, n=2, buckets=16).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2].n_features == 0 and got[2].log_weight_micro == 0
    assert got[3].n_features == 0  # single token < n
    assert got[1].n_features == 2


def test_cap_per_group_matches_naive_window(spark):
    """Two-stage skew-safe top-n == the naive single global window, and
    the kept count per group is min(cap, group size)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float((i * 37) % 50)) for i in range(200)],
        ["doc_id", "source", "score"],
    )
    out = prep.cap_per_group(
        df, group_col="source", cap=5, order_col="score", blocks=8
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("doc_id"))
    naive = (
        df.withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "source",
            "score",
            F.when(F.col("rn") <= 5, F.col("rn").cast("bigint")).alias("rank"),
            (F.col("rn") <= 5).alias("kept"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, naive.collect()))
    kept = {
        r["source"]: r["n"]
        for r in out.filter("kept").groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert kept == {"g0": 5, "g1": 5, "g2": 5}


def test_cap_per_group_small_group_keeps_all(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 9.0)], ["doc_id", "source", "score"]
    )
    out = prep.cap_per_group(df, group_col="source", cap=10, order_col="score")
    assert out.filter("NOT kept").count() == 0
    ranks = {r["doc_id"]: r["rank"] for r in out.collect()}
    assert ranks == {1: 2, 2: 1, 3: 1}


def test_mix_corpus_copy_counts_and_budget(spark):
    docs = spark.createDataFrame(
        [
            (i, "web" if i < 40 else "code", "tok " * 100)
            for i in range(50)
        ],
        ["doc_id", "source", "text"],
    )
    # web avail = 4000 tokens, code avail = 1000; budget 8000 at
    # 50/50 → web rate 1.0, code rate 4.0 (pure upsample, exact)
    out = prep.mix_corpus(
        docs, weights={"web": 0.5, "code": 0.5}, token_budget=8000
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert all(r["n_copies"] == 1 for r in by_src["web"])
    assert all(r["n_copies"] == 4 for r in by_src["code"])
    # integer rates have no fractional lottery: token accounting exact
    assert sum(r["n_copies"] * r["n_tokens"] for r in out) == 8000


def test_mix_corpus_fractional_and_unlisted(spark):
    docs = spark.createDataFrame(
        [(i, "web" if i % 2 == 0 else "junk", "a b c d") for i in range(400)],
        ["doc_id", "source", "text"],
    )
    out = prep.mix_corpus(
        docs, weights={"web": 1.0}, token_budget=400
    )
    rows = out.collect()
    junk = [r for r in rows if r["source"] == "junk"]
    assert all(r["n_copies"] == 0 and r["rate"] == 0.0 for r in junk)
    web = [r for r in rows if r["source"] == "web"]
    # rate = 400 / 800 = 0.5: each doc keeps 0 or 1 copies, about half
    assert all(r["n_copies"] in (0, 1) for r in web)
    kept = sum(r["n_copies"] for r in web)
    assert 0.3 * len(web) < kept < 0.7 * len(web)
    # deterministic under repartition
    again = prep.mix_corpus(
        docs.repartition(13), weights={"web": 1.0}, token_budget=400
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_mix_corpus_null_source_rows_surface(spark):
    """NULL-source docs must appear in the decision table with
    n_copies = 0, not vanish in the census join (review finding)."""
    docs = spark.createDataFrame(
        [(1, "web", "a b c d"), (2, None, "a b c d")],
        ["doc_id", "source", "text"],
    )
    rows = {r["doc_id"]: r.asDict()
            for r in prep.mix_corpus(docs, {"web": 1.0}, token_budget=4).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["n_copies"] == 0 and rows[2]["rate"] == 0.0
    assert rows[1]["n_copies"] == 1


def test_normalize_urls_golden(spark):
    """Every normalization axis: scheme/case, www, fragment, trailing
    slash, utm stripping with param sort, registered domain."""
    rows = [
        (1, "HTTPS://WWW.Example.COM/A/B/?utm_source=x&b=2&a=1#frag"),
        (2, "http://example.com/A/B?a=1&b=2"),
        (3, "https://sub.shop.example.org/"),
        (4, "ftp://Files.Example.net/pub//"),
        (5, "https://example.com"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in prep.normalize_urls(
            spark.createDataFrame(rows, ["doc_id", "url"])
        ).collect()
    }
    assert out[1]["norm_url"] == "example.com/A/B?a=1&b=2"
    assert out[2]["norm_url"] == "example.com/A/B?a=1&b=2"
    assert out[1]["domain"] == "example.com"
    assert out[3]["norm_url"] == "sub.shop.example.org"
    assert out[3]["domain"] == "example.org"
    assert out[4]["norm_url"] == "files.example.net/pub"
    assert out[5]["norm_url"] == "example.com"
    # 1 and 2 collapse under url_dedup; lower id is canonical
    dd = {
        r["doc_id"]: r.asDict()
        for r in prep.url_dedup(
            spark.createDataFrame(rows, ["doc_id", "url"])
        ).collect()
    }
    assert dd[1]["is_duplicate"] is False and dd[2]["is_duplicate"] is True
    assert dd[1]["n_copies"] == 2 and dd[3]["n_copies"] == 1


def test_cluster_survivors_golden(spark):
    """Highest quality survives; ties break to lowest id; singleton
    clusters always keep."""
    from otel2pv_spark.functions import dedup as ddp

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (7, 70), (8, 80), (9, 80)],
        ["doc_id", "cluster_id"],
    )
    quality = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (7, 1), (8, 4), (9, 4)],
        ["doc_id", "quality"],
    )
    out = {
        r["doc_id"]: r["keep"]
        for r in ddp.cluster_survivors(clusters, quality).collect()
    }
    assert out == {1: False, 2: True, 3: False, 7: True, 8: True, 9: False}
    # unscored members surface (not silently dropped), lose to scored
    # ones, and an all-unscored cluster falls back to lowest id
    c2 = spark.createDataFrame(
        [(1, 10), (2, 10), (5, 50), (6, 50)], ["doc_id", "cluster_id"]
    )
    q2 = spark.createDataFrame([(2, 7)], ["doc_id", "quality"])
    out2 = {
        r["doc_id"]: (r["keep"], r["quality"])
        for r in ddp.cluster_survivors(c2, q2).collect()
    }
    assert out2 == {1: (False, None), 2: (True, 7), 5: (True, None), 6: (False, None)}


def test_cluster_survivors_string_ids(spark):
    """Conversation-grain ids are strings: the survivor argmax must
    break ties by LEXICOGRAPHIC lowest id and never negate
    the id column (the r4 form negated it, silently nulling strings)."""
    from otel2pv_spark.functions import dedup as ddp

    clusters = spark.createDataFrame(
        [("conv-b", "conv-a"), ("conv-a", "conv-a"), ("conv-c", "conv-a"),
         ("conv-z", "conv-z")],
        ["conv_id", "cluster_id"],
    )
    quality = spark.createDataFrame(
        [("conv-a", 5), ("conv-b", 9), ("conv-c", 9), ("conv-z", 1)],
        ["conv_id", "quality"],
    )
    out = {
        r["conv_id"]: r["keep"]
        for r in ddp.cluster_survivors(
            clusters, quality, id_col="conv_id"
        ).collect()
    }
    # b and c tie at 9 -> lexicographic lowest (conv-b) wins; singleton keeps
    assert out == {"conv-a": False, "conv-b": True, "conv-c": False, "conv-z": True}


def test_cluster_survivors_extreme_quality(spark):
    """ADVICE regression: the survivor ordering must not negate quality
    — ``-Long.MIN_VALUE`` overflows — and NaN must rank the way Spark
    orders doubles (above every number), as a MAX over quality does."""
    from otel2pv_spark.functions import dedup as ddp

    lo = -(2**63)
    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (6, 60), (7, 60), (8, 80), (9, 80)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [(1, lo), (2, 0), (6, lo), (7, lo), (8, lo)],
        "doc_id long, quality bigint",
    )
    out = {
        r["doc_id"]: r["keep"]
        for r in ddp.cluster_survivors(clusters, quality).collect()
    }
    # 0 beats MIN_VALUE; a MIN_VALUE tie breaks to the lowest id; a
    # MIN_VALUE-scored member still beats an unscored one
    assert out == {1: False, 2: True, 6: True, 7: False, 8: True, 9: False}

    c2 = spark.createDataFrame(
        [(3, 30), (4, 30), (5, 30)], "doc_id long, cluster_id long"
    )
    q2 = spark.createDataFrame(
        [(3, 1.0), (4, float("nan")), (5, 2.0)], "doc_id long, quality double"
    )
    out2 = {r["doc_id"]: r["keep"] for r in ddp.cluster_survivors(c2, q2).collect()}
    assert out2 == {3: False, 4: True, 5: False}


def test_conv_dedup_clusters_golden(spark):
    """Templated conversations collapse to one cluster (min conv_id
    label, transitive through shared bands); unique conversations stay
    singletons. The bounded terminal artifact: one row per conv."""
    from otel2pv_spark.functions import dedup as ddp

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = []
    for c in ["conv-a", "conv-b", "conv-c"]:  # identical template trio
        for i, w in enumerate(base.split()):
            rows.append((c, i, w + " " + w))
    for i in range(12):  # a genuinely different conversation
        rows.append(("conv-x", i, f"unique{i} totally different terms {i}"))
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {
        r["conv_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in ddp.conv_dedup_clusters(tr).collect()
    }
    assert out["conv-a"] == ("conv-a", 3, True)
    assert out["conv-b"] == ("conv-a", 3, False)
    assert out["conv-c"] == ("conv-a", 3, False)
    assert out["conv-x"] == ("conv-x", 1, True)


def test_sft_examples_golden(spark):
    """Context is the previous K turns as 'role: text' lines, bounded
    by the frame; opening-turn targets get empty context."""
    rows = [
        ("c1", 0, "user", "q1"),
        ("c1", 1, "assistant", "a1"),
        ("c1", 2, "tool", "t1"),
        ("c1", 3, "user", "q2"),
        ("c1", 4, "assistant", "a2"),
        ("c2", 0, "assistant", "opener"),
    ]
    tr = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    out = {
        (r.conv_id, r.turn_idx): r.asDict()
        for r in prep.sft_examples(tr, context_turns=2).collect()
    }
    assert set(out) == {("c1", 1), ("c1", 4), ("c2", 0)}
    assert out[("c1", 1)]["context"] == "user: q1"
    assert out[("c1", 1)]["target"] == "a1"
    assert out[("c1", 1)]["truncated"] is False
    # frame keeps only the last 2 turns: tool t1 dropped at turn 4? no —
    # turns 2,3 are the last two before 4
    assert out[("c1", 4)]["context"] == "tool: t1\nuser: q2"
    assert out[("c1", 4)]["n_context_turns"] == 2
    assert out[("c1", 4)]["truncated"] is True
    assert out[("c2", 0)]["context"] == "" and out[("c2", 0)]["context_chars"] == 0
    # truncated counts actual preceding rows, not turn_idx values:
    # gapped indices (upstream rejects removed turns) must not lie
    gappy = spark.createDataFrame(
        [("c3", 10, "user", "q"), ("c3", 99, "assistant", "a")],
        ["conv_id", "turn_idx", "role", "text"],
    )
    g = prep.sft_examples(gappy, context_turns=2).collect()[0]
    assert g.truncated is False and g.n_context_turns == 1
