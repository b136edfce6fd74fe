"""Training-data preparation operators over `documents` — PII/URL
scrubbing, deterministic split assignment, and sequence packing.

All pure built-in column expressions (whole-stage codegen, zero UDFs),
written in the portable Java-regex ∩ RE2 subset so the DuckDB oracles
reproduce them byte-for-byte.

Scale shapes:
- scrub: embarrassingly parallel projection — no shuffle at any scale.
- split: hash-threshold assignment from md5(id, salt) — no shuffle, no
  global state, stable under re-runs and appends (a new document never
  changes an old document's split).
- pack: concat-then-chunk packing within hash shards — ONE shuffle on
  the shard key; each window partition is a single shard, so the
  per-task state is corpus_size / n_shards and the operator scales by
  raising n_shards with the data (shards are independent, so packing
  100 TB with 100k shards is 100k independent window scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from ..snapshot import snapshot
from .dedup import shingles, tokens
from .textstats import LANG_MARKERS, STOPWORDS, _count_in

# Portable redaction patterns (Java regex ∩ RE2: no lookarounds, no
# backrefs). Order matters and is part of the contract: URLs first
# (they contain digit runs and @-forms), then emails, then IPv4, then
# long digit runs (phone/account-number-like).
URL_RE = "https?://\\S+"
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
DIGITS_RE = "[0-9]{9,}"

SCRUB_STAGES = [
    ("url", URL_RE, "<URL>"),
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ip", IPV4_RE, "<IP>"),
    ("number", DIGITS_RE, "<NUM>"),
]


def scrub_text(df: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Staged PII/URL redaction: each pattern is counted against the
    text AS OF its stage (so a digit run inside a URL is counted once,
    as a URL) and then replaced with a placeholder token. Returns the
    scrubbed text plus per-kind redaction counts and a total.

    Pure regexp_replace/regexp_count chain — one codegen projection,
    no shuffle."""
    out = df.select(F.col(id_col), F.col(text_col).alias("_t"))
    counts = []
    for name, pat, token in SCRUB_STAGES:
        cnt = f"n_{name}"
        out = out.withColumn(cnt, F.regexp_count("_t", F.lit(pat)).cast("bigint"))
        out = out.withColumn("_t", F.regexp_replace("_t", pat, token))
        counts.append(cnt)
    total = sum((F.col(c) for c in counts), F.lit(0).cast("bigint"))
    return out.select(
        id_col,
        F.col("_t").alias("scrubbed"),
        *counts,
        total.alias("n_redactions"),
    )


def _hash_frac(id_col, salt: str):
    """Uniform [0,1) hash of (id, salt): first 8 hex chars of md5 as a
    32-bit int over 2^32. DuckDB-identical:
    ('0x'||substr(md5(CAST(id AS VARCHAR)||'#'||salt),1,8))::BIGINT
    / 4294967296.0 — exact in double (numerator < 2^32)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col(id_col).cast("string"), F.lit(salt))), 1, 8
        ),
        16, 10,
    ).cast("bigint")
    return h / F.lit(4294967296.0)


DEFAULT_SPLITS = [("train", 0.9), ("val", 0.05), ("test", 0.05)]


def _split_expr(frac, splits: list[tuple[str, float]]):
    """Threshold CASE over a [0,1) fraction: cumulative weight cuts."""
    expr = None
    cum = 0.0
    for name, w in splits[:-1]:
        cum += w
        cond = frac < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(splits[-1][0])
    return expr.otherwise(last) if expr is not None else last


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: list[tuple[str, float]] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment by hash threshold.

    Each row's fraction is a pure function of (id, salt): re-runs,
    appends, and repartitions never move a document between splits,
    and changing the salt re-rolls every assignment at once (the
    standard reproducible-split construction). No shuffle."""
    splits = splits or DEFAULT_SPLITS
    frac = _hash_frac(id_col, salt)
    return df.select(
        id_col,
        F.round(frac, 6).alias("hash_frac"),
        _split_expr(frac, splits).alias("split"),
    )


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_threshold: float = 0.3,
    lang: str = "en",
    salt: str = "split-v1",
) -> DataFrame:
    """The full curation chain — scrub → quality + language-ID →
    exact-dedup flag → keep/drop decision → split assignment — as ONE
    Catalyst plan with exactly ONE shuffle (the dedup window on the
    scrubbed-content hash; everything else is row-local projection, so
    Catalyst fuses the whole chain into the scan stage and the window
    stage).

    Dedup and quality run over the SCRUBBED text (pipeline order
    matters: two documents differing only in redacted PII are
    duplicates). Every input row is emitted with ``kept`` and a
    deterministic ``drop_reason`` (duplicate > lang > quality
    priority), so downstream can audit exactly why data was dropped —
    silent filtering at 100 TB is how corpora go wrong."""
    return _curate_ledger(
        df, id_col, text_col, quality_threshold, lang, salt
    ).drop("scrubbed")


def _curate_ledger(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_threshold: float = 0.3,
    lang: str = "en",
    salt: str = "split-v1",
) -> DataFrame:
    """``curate``'s columns plus the ``scrubbed`` text its gates ran
    over: the curation plan's one ledger, so the later stages read the
    scrubbed text from it instead of scrubbing the input a second time."""
    scrubbed = scrub_text(df, id_col=id_col, text_col=text_col)

    tok = tokens("scrubbed")
    n_tok = F.size(tok)
    n_chars = F.length("scrubbed")
    stop = _count_in(tok, STOPWORDS)
    uniq = F.size(F.array_distinct(tok))
    quality = F.round(
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.4
        + (stop / F.greatest(n_tok, F.lit(1))) * 0.3
        + (uniq / F.greatest(n_tok, F.lit(1))) * 0.3,
        4,
    )
    counts = {lg: _count_in(tok, ws) for lg, ws in LANG_MARKERS.items()}
    lang_pred = (
        F.when(
            (counts["en"] >= counts["de"])
            & (counts["en"] >= counts["es"])
            & (counts["en"] >= counts["fr"]),
            F.lit("en"),
        )
        .when((counts["de"] >= counts["es"]) & (counts["de"] >= counts["fr"]), F.lit("de"))
        .when(counts["es"] >= counts["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    scored = scrubbed.select(
        id_col,
        "scrubbed",
        "n_redactions",
        n_tok.cast("bigint").alias("n_tokens"),
        quality.alias("quality"),
        lang_pred.alias("lang_pred"),
    )

    # groupBy(min)+join, not a content-hash window: a hot boilerplate
    # document would pile every copy into one window task (AQE cannot
    # split window partitions); the aggregate partial-combines map-side
    # and the join back is skew-splittable (same shape as exact_dedup).
    hashed = scored.withColumn("_ch", F.md5(F.col("scrubbed")))
    canon = hashed.groupBy("_ch").agg(F.min(id_col).alias("_canon_id"))
    flagged = (
        hashed.join(canon, "_ch")
        .withColumn("is_duplicate", F.col(id_col) != F.col("_canon_id"))
        .drop("_ch", "_canon_id")
    )

    drop_reason = (
        F.when(F.col("is_duplicate"), F.lit("duplicate"))
        .when(F.col("lang_pred") != lang, F.lit("lang"))
        .when(F.col("quality") < quality_threshold, F.lit("quality"))
    )
    return flagged.select(
        id_col,
        "n_redactions",
        "n_tokens",
        "quality",
        "lang_pred",
        "is_duplicate",
        drop_reason.isNull().alias("kept"),
        drop_reason.alias("drop_reason"),
        F.when(drop_reason.isNull(), F.round(_hash_frac(id_col, salt), 6)).alias(
            "hash_frac"
        ),
        F.when(
            drop_reason.isNull(), _split_expr(_hash_frac(id_col, salt), DEFAULT_SPLITS)
        ).alias("split"),
        "scrubbed",
    )


def shuffle_deterministic(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle-v1",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle: rank every row by
    md5(id, salt) — reproducible across runs/partitionings, re-rolled
    by changing the salt. Output: (id, shuffle_rank), dense from 1.

    Scale shape — distributed rank, NOT a global window (a
    ``row_number() OVER (ORDER BY ...)`` with no partition key ships
    every row to ONE task): the hash key-space is cut into EXPLICIT
    contiguous ranges (the first two hex digits — md5 is uniform, so
    ranges balance), rows rank locally within their range, and the
    global rank adds the broadcast cumulative count of all earlier
    ranges. The range id is a pure function of the key — unlike
    ``repartitionByRange`` (sampled, nondeterministic boundaries) or
    ``spark_partition_id()``, it cannot diverge between the rank branch
    and the offsets branch of the self-join. Per-task work is n/P for
    P up to 65536 ranges (the 4-hex-digit prefix resolution; widen the
    prefix for more)."""
    P = num_partitions if num_partitions is not None else int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
    )
    if not 1 <= P <= 65536:
        raise ValueError(f"num_partitions must be in [1, 65536], got {P}")
    h = F.md5(F.concat_ws("#", F.col(id_col).cast("string"), F.lit(salt)))
    # fixed-width lowercase hex: lexicographic order == numeric order,
    # so bucket(first-four-digits) ranges are ordered by the full key
    # bigint intermediate: prefix(<=65535) × P(<=65536) exceeds int32 —
    # under ANSI (Spark 4 default) that's a runtime overflow exception,
    # without it a wrapped-negative pid that breaks the range ordering
    pid = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") * P / 65536
    ).cast("int")
    base = df.select(F.col(id_col), h.alias("_h"), pid.alias("_pid"))
    w = Window.partitionBy("_pid").orderBy("_h", id_col)
    local = base.withColumn("_lr", F.row_number().over(w))
    # offsets table is config-sized (<= P <= 65536 rows), so a
    # single-partition running sum is the right plan; the literal
    # partition key states that on purpose (Catalyst folds it back to
    # an empty spec — WindowExec's warning for this documented case is
    # demoted in session.get_spark instead)
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy("_pid")
        .agg(F.count("*").alias("_n"))
        .select("_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            # bigint: a global rank over >2^31 rows is the advertised
            # scale; per-range _lr stays int, the SUM is what overflows
            id_col,
            (F.col("_lr") + F.col("_off")).cast("bigint").alias("shuffle_rank"),
        )
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a held-out evaluation set (the standard
    n-gram-overlap test-set-leakage check; n=8 is the common choice —
    long enough that coincidental overlap is negligible, short enough
    to catch paraphrase-free excerpts).

    Output: (id, n_eval_ngrams = distinct overlapping n-grams,
    contaminated).

    Scale shape: the eval side is tiny by construction (benchmarks,
    not corpora) — its distinct n-grams broadcast; the corpus side is
    one explode + broadcast hash join + one map-side-combined groupBy,
    so the only shuffle is the per-doc hit count. The corpus is never
    shuffled by content and never self-joined."""
    # tokens bound to a column before shingling: expressions referenced
    # inside the shingle lambda re-evaluate per element (see dedup.py)
    ev = (
        eval_df.select(tokens(eval_text_col).alias("_w"))
        .select(
            F.explode(F.array_distinct(shingles(F.col("_w"), n))).alias("ngram")
        )
        .distinct()
    )
    doc_ng = df.select(F.col(id_col), tokens(text_col).alias("_w")).select(
        id_col,
        F.explode(F.array_distinct(shingles(F.col("_w"), n))).alias("ngram"),
    )
    hits = (
        doc_ng.join(F.broadcast(ev), "ngram")
        .groupBy(id_col)
        .agg(F.count("*").alias("_h"))
    )
    n_hits = F.coalesce("_h", F.lit(0)).cast("bigint")
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            n_hits.alias("n_eval_ngrams"),
            (n_hits > 0).alias("contaminated"),
        )
    )


def decontaminate_neardup(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: flag training
    documents whose MinHash signature shares an LSH band with any
    held-out evaluation document. The n-gram-overlap check
    (:func:`decontaminate`) catches verbatim excerpts; this catches
    lightly edited / reformatted test items (whitespace, punctuation,
    small paraphrases) that break every long exact n-gram but keep
    Jaccard high — the second tier of the standard two-tier
    test-set-leakage sweep.

    Output: (id, contaminated) — one row per corpus document.

    Scale shape: the corpus is banded ONCE (the same
    ``minhash_band_table`` construction as dedup — in production the
    stored index is reused, not recomputed); the eval side is tiny by
    construction, so its distinct (band, band_key) set broadcasts and
    the probe is a broadcast semi-join — zero corpus shuffle beyond
    the per-doc signature groupBy, no self-join, no pair explosion."""
    from .dedup import minhash_band_table

    corpus_bands = minhash_band_table(df, id_col, text_col, n, num_hashes, bands)
    # the eval ids never leave this function (only the distinct band
    # keys do), so a synthetic unique row id is enough to group each
    # eval doc's signature
    ev = eval_df.select(
        F.monotonically_increasing_id().alias(id_col),
        F.col(eval_text_col).alias(text_col),
    )
    eval_keys = (
        minhash_band_table(ev, id_col, text_col, n, num_hashes, bands)
        .select("band", "band_key")
        .distinct()
    )
    hits = (
        corpus_bands.join(F.broadcast(eval_keys), ["band", "band_key"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("_c", F.lit(True))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(id_col, F.coalesce("_c", F.lit(False)).alias("contaminated"))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic per-stratum subsampling: keep a row iff its
    (id, salt) hash fraction falls under its stratum's rate. Every row
    is emitted with the ``sampled`` decision (auditable filtering, as
    in ``curate``); strata absent from ``rates`` get rate 0.

    Pure projection — no shuffle, no global state; appends and re-runs
    never flip an old row's decision, and the kept set of a lower rate
    is a subset of a higher one (nested samples for ablations)."""
    frac = _hash_frac(id_col, salt)
    rate = None
    for name, r in sorted(rates.items()):
        cond = F.col(strata_col) == name
        rate = (
            F.when(cond, F.lit(float(r)))
            if rate is None
            else rate.when(cond, F.lit(float(r)))
        )
    rate = rate.otherwise(F.lit(0.0)) if rate is not None else F.lit(0.0)
    return df.select(
        id_col,
        strata_col,
        F.round(frac, 6).alias("hash_frac"),
        F.round(rate, 6).alias("rate"),
        (frac < rate).alias("sampled"),
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    target_frac: float = 0.5,
    salt: str = "sample-v1",
) -> DataFrame:
    """Temperature-based domain reweighting: stratum s with n_s rows
    gets sampling weight n_s^alpha (alpha<1 upweights small domains —
    the multilingual/domain-mixing trick), normalized so the expected
    kept total is ``target_frac`` of the corpus; per-stratum rates cap
    at 1. Keep decisions use the same deterministic hash fraction as
    ``stratified_sample``.

    Scale shape: per-stratum counts are one map-side-combined groupBy
    producing a config-sized table (#domains rows) that broadcasts back
    onto the corpus — the corpus itself is never shuffled."""
    # ONE config-sized action: per-stratum counts collected once (the
    # total is their sum — no second corpus pass), rates computed
    # driver-side and shipped back as a literal broadcast table. This
    # also means downstream consumers never re-run the corpus groupBy
    # hiding in a lazy rate plan.
    counts = sorted(
        df.groupBy(strata_col).agg(F.count("*").alias("n_s")).collect(),
        key=lambda r: (r[strata_col] is None, r[strata_col]),
    )  # deterministic summation order: collect() order is not stable
    spark = df.sparkSession
    # empty input needs no special case: the rate list is empty, the
    # join of two empty frames yields the same five-column result
    total = sum(r["n_s"] for r in counts)
    sum_w = sum(r["n_s"] ** alpha for r in counts)
    rates = spark.createDataFrame(
        [
            (
                r[strata_col],
                min(
                    1.0,
                    (r["n_s"] ** alpha) / sum_w * (target_frac * total) / r["n_s"],
                ),
            )
            for r in counts
        ],
        "_st string, rate double",
    )
    frac = _hash_frac(id_col, salt)
    # eqNullSafe: a NULL stratum is still a stratum — a plain equi-join
    # would silently drop those rows from the audited output
    return (
        df.select(id_col, strata_col)
        .join(
            F.broadcast(rates),
            F.col(strata_col).eqNullSafe(F.col("_st")),
        )
        .select(
            id_col,
            strata_col,
            F.round(frac, 6).alias("hash_frac"),
            F.round("rate", 6).alias("rate"),
            (frac < F.col("rate")).alias("sampled"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Fixed-size token chunks with overlap — the retrieval/context
    side of sequence prep (packing concatenates small docs; chunking
    splits large ones). Chunk k covers tokens [k·stride, k·stride +
    chunk_tokens) with stride = chunk_tokens − overlap; the final
    partial chunk is kept (min length 1 token), and a doc shorter than
    one chunk yields exactly one chunk.

    Output: (id, chunk_idx, chunk_text, n_chunk_tokens). Pure
    projection over a bound token column (no shuffle, no lambda
    re-evaluation of the tokenizer); chunk_text re-joins tokens with
    single spaces — token-level, not byte-level, fidelity."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
            " — a negative overlap would silently skip tokens"
        )
    stride = chunk_tokens - overlap
    tokd = df.select(F.col(id_col), tokens(text_col).alias("_w"))
    n = F.size("_w")
    # number of chunks: 1 + ceil(max(n - chunk_tokens, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - chunk_tokens, F.lit(0)) / stride
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.cast("int").alias("chunk_idx"),
            F.slice(F.col("_w"), k * stride + 1, chunk_tokens).alias("toks"),
        ),
    )
    return (
        tokd.select(id_col, F.explode(chunks).alias("_c"))
        .select(
            id_col,
            F.col("_c.chunk_idx").alias("chunk_idx"),
            F.concat_ws(" ", F.col("_c.toks")).alias("chunk_text"),
            F.size("_c.toks").cast("int").alias("n_chunk_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_shards: int = 8,
    salt: str = "pack-v1",
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are hashed into
    ``n_shards`` independent shards, ordered by id within the shard,
    and laid head-to-tail into fixed ``budget``-token packs; a document
    belongs to the pack where it starts (T5-style packing — a long
    document may spill past the pack boundary into the next chunk).

    Output: (id, shard, pack_id, pack_offset, n_tokens). pack_offset is
    the document's start position inside its pack, always < budget.

    ``partition_cols`` prepend extra packing boundaries (e.g.
    ``("split",)`` so a pack never mixes train/val/test text — packing
    across that boundary is test-set leakage at training time). A
    pack's identity is then (*partition_cols, shard, pack_id) —
    pack_id restarts at 0 within each boundary group, so consumers
    MUST group by the full key, never by (shard, pack_id) alone.

    Scale shape: one shuffle on the shard key; the running-sum window
    sees exactly one shard per partition, so per-task memory is
    corpus/n_shards — raise n_shards with the data (the shards are
    fully independent, which is what makes this 100 TB-viable where a
    single global running sum would not be)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col(id_col).cast("string"), F.lit(salt))), 1, 8
        ),
        16, 10,
    ).cast("bigint")
    base = df.select(
        F.col(id_col),
        *partition_cols,
        (h % n_shards).cast("int").alias("shard"),
        F.size(tokens(text_col)).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy(*partition_cols, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return base.select(
        id_col,
        *partition_cols,
        "shard",
        F.floor(cum / budget).cast("int").alias("pack_id"),
        (cum % budget).cast("int").alias("pack_offset"),
        "n_tokens",
    )


def _dsir_bucket(gram_col, buckets: int):
    """Hashed-feature bucket: int(md5(g '#dsir-v1')[:8], 16) % buckets —
    identical in DuckDB as ('0x'||substr(md5(g||'#dsir-v1'),1,8))::BIGINT
    % buckets (the input is non-negative, so % == pmod)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(gram_col, F.lit("#dsir-v1"))), 1, 8),
            16, 10,
        ).cast("bigint") % buckets
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    n: int = 2,
    buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score each raw
    document by how much more likely its hashed n-gram features are
    under a target-domain bag-of-ngrams model than under the raw-corpus
    model; resampling by these weights shifts the corpus toward the
    target distribution.

    Per feature bucket b (word n-grams hashed into ``buckets``):
    p(b) = (count(b) + 1) / (N + buckets)  (add-one smoothing), and a
    document's log-weight is Σ_f count_doc(f) · (ln p_target(b_f) −
    ln p_raw(b_f)).

    Emitted as ``log_weight_micro`` — the per-bucket log-ratio is
    rounded to integer micro-nats FIRST, so the per-document sum is
    pure BIGINT arithmetic: order-independent, exactly reproducible,
    and hash-stable against the oracle (a float sum over a shuffled
    corpus is none of those).

    Scale shape: both bucket-count tables are map-side-combined
    groupBys capped at ``buckets`` rows; the ratio table (≤ buckets
    rows) BROADCASTS into the per-(doc, bucket) join (per-doc feature
    counts, also map-side combined), and one groupBy(doc) sums. The
    raw corpus is never self-joined and no driver-side state exists;
    corpus totals ride along as a broadcast 1-row cross join.
    """
    def feats(d: DataFrame) -> DataFrame:
        toks = d.select(F.col(id_col), tokens(text_col).alias("_w"))
        return toks.select(
            F.col(id_col),
            F.explode(shingles(F.col("_w"), n)).alias("_g"),
        ).select(id_col, _dsir_bucket(F.col("_g"), buckets).alias("_b"))

    raw_f = feats(df)
    tgt_f = feats(target)
    raw_c = raw_f.groupBy("_b").agg(F.count("*").alias("_rc"))
    tgt_c = tgt_f.groupBy("_b").agg(F.count("*").alias("_tc"))
    totals = raw_f.agg(F.count("*").alias("_nr")).crossJoin(
        tgt_f.agg(F.count("*").alias("_nt"))
    )
    ratio = (
        raw_c.join(tgt_c, "_b", "full")
        .crossJoin(F.broadcast(totals))
        .select(
            "_b",
            F.round(
                F.lit(1e6)
                * (
                    F.log(
                        (F.coalesce("_tc", F.lit(0)) + F.lit(1.0))
                        / (F.col("_nt") + F.lit(float(buckets)))
                    )
                    - F.log(
                        (F.coalesce("_rc", F.lit(0)) + F.lit(1.0))
                        / (F.col("_nr") + F.lit(float(buckets)))
                    )
                )
            ).cast("bigint").alias("_r"),
        )
    )
    doc_f = raw_f.groupBy(id_col, "_b").agg(F.count("*").alias("_c"))
    scored = (
        doc_f.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_features"),
            F.sum(F.col("_c") * F.col("_r")).alias("log_weight_micro"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).cast("bigint").alias("n_features"),
            F.coalesce("log_weight_micro", F.lit(0)).cast("bigint").alias(
                "log_weight_micro"
            ),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    cap: int = 100,
    order_col: str = "quality",
    id_col: str = "doc_id",
    blocks: int = 32,
) -> DataFrame:
    """Per-group document cap (the RefinedWeb-style per-domain cap):
    keep at most ``cap`` documents per group, best-first by
    ``order_col`` (descending) with the id as a deterministic
    tie-break. Every input row is emitted with a ``kept`` flag;
    ``rank`` is populated only for kept rows (a pruned row's exact
    global rank is unknowable cheaply at scale, and irrelevant).

    Scale shape — a naive ``row_number() OVER (PARTITION BY group)``
    piles a hot group (one domain with 10^9 pages) into ONE window
    task, and AQE cannot split window partitions. Instead: a partial
    top-cap per (group, block) — block a pure hash of the id, so the
    pre-filter is deterministic and provably a superset of the global
    top-cap — then the final window sees at most cap × blocks rows per
    group. Same two-stage shape as the salted sequence window."""
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(blocks))
    w_part = Window.partitionBy(group_col, "_blk").orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    w_final = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    kept = (
        df.select(id_col, group_col, order_col, blk.alias("_blk"))
        .withColumn("_prn", F.row_number().over(w_part))
        .filter(F.col("_prn") <= cap)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= cap)
        .select(id_col, F.col("rank").cast("bigint").alias("rank"))
    )
    return (
        df.select(id_col, group_col, order_col)
        .join(kept, id_col, "left")
        .select(
            id_col,
            group_col,
            order_col,
            "rank",
            F.col("rank").isNotNull().alias("kept"),
        )
    )


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    salt: str = "mix-v1",
) -> DataFrame:
    """Static corpus mixing to a token budget: given target mixture
    weights per source (a DoReMi/Pile-style domain recipe) and a total
    training-token budget, compute each source's sampling rate
    rate = budget × weight / available_tokens and assign every
    document an integer copy count — floor(rate) full epochs plus one
    more with probability frac(rate), decided by the deterministic
    (id, salt) hash so re-runs and appends reproduce exactly. rate > 1
    upsamples (multiple epochs), rate < 1 downsamples. Sources absent
    from ``weights`` get weight 0 (dropped, n_copies = 0).

    Scale shape: one map-side-combined groupBy(source) for the
    available-token census (output rows = #sources, config-sized), the
    rates broadcast back, then a pure projection — no second shuffle,
    no skew surface. The copy explosion (one row per epoch) is left to
    the caller (``F.explode(F.sequence(...))``) so the decision table
    stays small."""
    rows = df.select(
        id_col, source_col, F.size(tokens(text_col)).cast("bigint").alias("n_tokens")
    )
    # materialize once: the census below and the final projection both
    # consume `rows`, and an unmaterialized plan would tokenize the
    # whole corpus twice; (id, source, n_tokens) is tiny next to the
    # text it summarizes (same argument as ngram_lm's grams_all)
    rows = rows.transform(snapshot)
    avail = rows.groupBy(source_col).agg(F.sum("n_tokens").alias("_avail"))
    w_expr = F.lit(0.0)
    for src in sorted(weights):
        w_expr = F.when(F.col(source_col) == src, F.lit(float(weights[src]))).otherwise(
            w_expr
        )
    # guard _avail = 0 (a source whose every doc tokenizes empty):
    # double x/0 semantics differ across engines, so pin the rate to 0
    rate = F.when(
        F.col("_avail") > 0, F.lit(float(token_budget)) * w_expr / F.col("_avail")
    ).otherwise(F.lit(0.0))
    extra = (_hash_frac(id_col, salt) < (rate - F.floor(rate))).cast("bigint")
    n_copies = F.floor(rate).cast("bigint") + extra
    # LEFT join: an equi-join never matches NULL sources, which would
    # silently drop unattributed documents from the decision table;
    # with a null _avail the rate guard falls through to 0.0, so they
    # surface as n_copies = 0 like any other unlisted source
    return (
        rows.join(F.broadcast(avail), source_col, "left")
        .select(
            id_col,
            source_col,
            "n_tokens",
            F.round(rate, 6).alias("rate"),
            n_copies.alias("n_copies"),
        )
    )


def conv_features(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
    role_col: str = "role",
    tool_col: str = "tool",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation feature table over the transcript carrier —
    the conversation-level analog of the per-document quality stats
    (curriculum filtering, length bucketing, tool-usage stratification
    all key off these).

    All features are exact integers (counts, char totals, duration in
    microseconds) so the output is bit-stable across engines and
    partitionings; ratios are left to the consumer (n/n_turns).

    Scale shape: ONE map-side-combined groupBy(conv_id) — the same
    shuffle key every pipeline stage uses, no window, no second pass.
    """
    role = F.col(role_col)
    return df.groupBy(F.col(conv_col)).agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(role == "user", 1).otherwise(0)).alias("n_user"),
        F.sum(F.when(role == "assistant", 1).otherwise(0)).alias("n_assistant"),
        F.sum(
            F.when(F.col(tool_col) != "", 1).otherwise(0)
        ).alias("n_tool_calls"),
        F.count_distinct(
            F.when(F.col(tool_col) != "", F.col(tool_col))
        ).alias("n_distinct_tools"),
        F.sum(F.length(text_col)).alias("chars_total"),
        F.max(F.length(text_col)).alias("chars_max"),
        (
            F.unix_micros(F.max(F.col(ts_col).cast("timestamp")))
            - F.unix_micros(F.min(F.col(ts_col).cast("timestamp")))
        ).alias("duration_us"),
    )


def priority_sample(
    df: DataFrame,
    k: int = 100,
    weight_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: the k rows
    with the smallest priority ``(h(id) << 20) // weight`` win, where
    h is the repo's 32-bit md5 slice — a fixed-k companion to the
    rate-based samplers above (those keep an *expected* fraction;
    curriculum/eval-subset builds need an exact-size draw biased
    toward high-quality rows). Doubling a row's weight halves its
    priority, so inclusion odds scale with weight (the integer-ratio
    analog of exponential-clock / Efraimidis-Spirakis u^(1/w)
    sampling; the textbook form needs pow/log, whose last-ulp
    behavior differs per libm — floor division on BIGINTs is exact in
    every engine, which is what makes the draw reproducible AND
    oracle-checkable). Weights clamp to >= 1; h < 2^32 so the shifted
    numerator < 2^52 — exact BIGINT, no overflow.

    Output: (id, weight, priority, rank), rank 1..k by (priority, id).

    Scale shape: the ranking triple is 3 narrow columns; selection is
    the shared two-level top-k — partial top-k per input partition,
    then one <= k x P-row merge window. The corpus is never globally
    sorted and no group lands in one task."""
    from .topk import two_level_topk

    w = (
        F.greatest(F.lit(1), F.col(weight_col).cast("bigint"))
        if weight_col is not None
        else F.lit(1).cast("bigint")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col(id_col).cast("string"), F.lit(salt))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    # DIV, not `/`: Spark's `/` is double division, and a double
    # quotient near 2^32 can round across the floor the BIGINT cast
    # would take — `x DIV w` stays in exact integer arithmetic,
    # matching DuckDB's `//` on every input
    scored = df.select(
        F.col(id_col), w.alias("weight"), F.shiftleft(h, 20).alias("_num")
    ).select(
        id_col, "weight", F.expr("_num DIV weight").alias("priority")
    )
    picked = two_level_topk(
        scored, [], [F.col("priority").asc(), F.col(id_col).asc()], k
    )
    return picked.select(id_col, "weight", "priority", F.col("rank").cast("int").alias("rank"))


def normalize_urls(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Canonical URL form for URL-level dedup (the RefinedWeb /
    CCNet-style first dedup tier: most exact duplicates on the web are
    the same page fetched under trivially different URLs):

    - drop the fragment and the scheme
    - lowercase the host, strip a leading ``www.``
    - strip trailing slashes from the path
    - drop ``utm_*`` tracking params, keep the rest SORTED (param order
      never distinguishes pages)

    plus the registered domain (last two host labels) for per-domain
    caps and blocklists. Pure codegen list/regex expressions in the
    Java-regex ∩ RE2 subset — zero shuffle, zero UDFs.
    """
    no_frag = F.regexp_replace(F.col(url_col), "#.*$", "")
    # optional-scheme + '//' prefix: also strips protocol-relative
    # '//host/path' links (common in crawled HTML), which would
    # otherwise leave the host inside the path un-normalized
    no_scheme = F.regexp_replace(no_frag, "^([A-Za-z][A-Za-z0-9+.-]*:)?//", "")
    host_raw = F.regexp_extract(no_scheme, "^[^/?]+", 0)
    rest = no_scheme.substr(
        F.length(host_raw) + 1, F.length(no_scheme)
    )
    host = F.regexp_replace(F.lower(host_raw), "^www\\.", "")
    path = F.regexp_replace(F.regexp_replace(rest, "\\?.*$", ""), "/+$", "")
    q = F.regexp_extract(rest, "\\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != F.lit("")) & ~p.startswith("utm_"),
        )
    )
    norm = F.concat(
        host,
        path,
        F.when(
            F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
        ).otherwise(F.lit("")),
    )
    domain = F.regexp_extract(host, "[^.]+\\.[^.]+$", 0)
    return df.select(
        id_col,
        F.col(url_col),
        norm.alias("norm_url"),
        domain.alias("domain"),
    )


def url_dedup(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """URL-level exact dedup over the canonical form: first-id
    canonical per norm_url, the rest flagged duplicates. Same scale
    shape as exact text dedup — one map-side-combined groupBy on the
    normalized key, equi-join back (no window over hot URLs)."""
    normed = normalize_urls(df, id_col, url_col)
    canon = normed.groupBy("norm_url").agg(
        F.min(id_col).alias("_canon_id"),
        F.count("*").alias("n_copies"),
    )
    return (
        normed.join(canon, "norm_url")
        .select(
            id_col,
            "norm_url",
            "domain",
            "n_copies",
            (F.col(id_col) != F.col("_canon_id")).alias("is_duplicate"),
        )
    )


def sft_examples(
    tr: DataFrame,
    context_turns: int = 4,
    target_role: str = "assistant",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """SFT (context, target) pair construction over the transcript
    carrier: one training example per ``target_role`` turn, whose
    context is the previous ``context_turns`` turns rendered as
    ``role: text`` lines in turn order.

    Scale shape: one shuffle on the pipeline's own conv_id key; the
    window frame is ROWS BETWEEN context_turns PRECEDING AND 1
    PRECEDING, so per-row state is bounded by the context length —
    a million-turn conversation never materializes as one list (the
    unbounded collect_list-per-conversation formulation would). Hot
    conversations skew the conv partition exactly like sequencing does;
    the block-salted treatment applies unchanged if needed.

    Output columns: conv_id, turn_idx, context (newline-joined, ''
    when the target opens the conversation), target, n_context_turns,
    context_chars, truncated (true when older turns fell out of the
    frame).
    """
    w = (
        Window.partitionBy(conv_col)
        .orderBy(idx_col)
        .rowsBetween(-context_turns, -1)
    )
    # truncation = actual preceding rows fell out of the frame — a
    # COUNT over the unbounded-preceding frame, NOT a turn_idx
    # comparison (indices may be 1-based or gapped by upstream reject
    # filtering); same partition/order as w, so the sort is shared
    w_all = (
        Window.partitionBy(conv_col)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    line = F.concat_ws(": ", F.col(role_col), F.col(text_col))
    out = tr.select(
        conv_col,
        idx_col,
        F.col(role_col),
        F.col(text_col),
        F.array_join(F.collect_list(line).over(w), "\n").alias("context"),
        F.count("*").over(w).cast("bigint").alias("n_context_turns"),
        F.coalesce(F.sum(F.length(line)).over(w), F.lit(0))
        .cast("bigint")
        .alias("context_chars"),
        (F.count("*").over(w_all) > context_turns).alias("truncated"),
    )
    return (
        out.filter(F.col(role_col) == target_role)
        .select(
            conv_col,
            idx_col,
            "context",
            F.col(text_col).alias("target"),
            "n_context_turns",
            "context_chars",
            "truncated",
        )
    )
