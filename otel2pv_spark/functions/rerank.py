"""Two-stage retrieval reranking: cheap recall stage -> cross-encoder.

A recall stage (BM25 / ANN — any op producing (query_id, doc_id) rows)
proposes a BOUNDED candidate set per query; an expensive cross-encoder
then scores only those |Q|·m pairs through ONE Arrow-batched
mapInPandas kernel; a final window over the ≤ m candidates per query
picks the top-k. This is the standard retrieve-then-rerank shape a
training-data / RAG pipeline needs next to the ANN ops.

No cross-encoder model runtime is a dependency, so the scoring kernel
is ``fake_ce_score``: a deterministic md5-derived score both engines
reproduce (the same contract as functions/multimodal.py's stub decode
kernels), and the one function a real model replaces — the
Spark-side plumbing (candidate-join shape, broadcast query side, Arrow
batch signature, bounded final top-k) is real and tested.

Scale shape (100 TB corpus, |Q| config queries, m candidates each):
- the ONLY join against the corpus fetches candidate text: a hash
  join on the id over an (id, text) projection whose probe side is
  the |Q|·m candidate table — partition-parallel, never all-pairs,
  and the wide text column never shuffles for non-candidates;
- the query side is CONFIG (a handful of rows) and is broadcast;
- Python sees exactly |Q|·m rows, in Arrow batches, once;
- the final top-k window partitions by query over ≤ m rows (bounded
  by the recall stage's k, never by corpus size).

The reference pipeline has no retrieval reranker; this belongs to the
training-data layer (SURVEY.md §8), alongside similarity.py.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Version salt baked into the fake score so a future real kernel can't
# silently collide with fixture hashes. Shared verbatim with the SQL
# oracle (chr(31) = "\x1f" unit separator between fields).
CE_SALT = "ce-v1"


def fake_ce_score(query_text: str, doc_text: str) -> float:
    """Deterministic stand-in cross-encoder relevance in [0, 1).

    First 8 md5 hex digits of ``query \\x1f doc \\x1f salt`` scaled by
    2^-32 — an exact dyadic rational, so Spark and the DuckDB oracle
    (``('0x' || substr(md5(...), 1, 8))::BIGINT / 4294967296.0``)
    compute bit-identical doubles and ranking needs no quantization.
    """
    h = hashlib.md5(
        f"{query_text}\x1f{doc_text}\x1f{CE_SALT}".encode()
    ).hexdigest()
    return int(h[:8], 16) / 4294967296.0


def crossencoder_rerank(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rerank per-query candidates with a (stubbed) cross-encoder.

    ``queries``: CONFIG list of (query_id, query_text).
    ``candidates``: recall-stage output with (query_id, ``id_col``)
    columns — e.g. ``textstats.bm25_topk`` or ``similarity.*_topk``.
    Returns (query_id, id_col, ce_score, rank) with rank <= k per
    query; ce_score rounded to 6 dp for display, ranked on the exact
    double (tie-broken by id) so both engines order identically.
    """
    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        list(queries), "query_id string, query_text string"
    )
    pairs = (
        candidates.select("query_id", id_col)
        # the only corpus-side join: fetch text for candidate ids only.
        # NULL-text docs are unscorable and dropped here — without the
        # filter the kernel would silently stringify None into a real
        # md5 score while a SQL engine's NULL propagation ranks it last.
        .join(
            docs.select(id_col, text_col).filter(F.col(text_col).isNotNull()),
            id_col,
            "inner",
        )
        .join(F.broadcast(qdf), "query_id")
    )

    id_field = docs.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField(id_col, id_field.dataType),
            T.StructField("ce_score", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    id_col: pdf[id_col],
                    "ce_score": [
                        fake_ce_score(q, d)
                        for q, d in zip(pdf["query_text"], pdf[text_col])
                    ],
                }
            )

    scored = pairs.mapInPandas(kernel, schema=out_schema)
    # rank on the exact double, round only for the emitted column
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ce_score"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            F.round("ce_score", 6).alias("ce_score"),
            "rank",
        )
    )
