"""Dimensionality reduction over the embedding column.

Two reducers a 100 TB embedding corpus needs before clustering /
indexing / visualization:

- **PCA**: the distributed half is the d x d covariance (one corpus
  pass, map-side-combined integer moments — ``covariance_moments``);
  the eigendecomposition is driver-side numpy over that CONFIG-sized
  matrix (d=64 -> 4 KB), exactly like ``similarity.make_anchors``
  collects config not data. ``pca_project`` broadcasts the components
  back as literals and projects JVM-side.
- **Johnson-Lindenstrauss**: a data-independent sparse random
  projection (Achlioptas 2003, database-friendly +-1/0 matrix). The
  matrix is derived deterministically from md5(seed,i,k) so BOTH
  engines (and any two runs) reproduce it bit-identically; the
  projection is a pure zero-shuffle codegen expression.

Scale shapes:
- ``covariance_moments``: per row, d(d+1)/2 quantized integer products
  exploded INTO a hash aggregate in the same stage — map-side partial
  agg means the shuffle carries only partitions x d^2/2 rows no matter
  the corpus size. Integer micro-quantization (same trick as
  textstats' LM bit-costs) makes the sums order-independent and
  bit-equal across engines; the quantum bounds int64: |x| <= 8 at
  q=2^14 keeps per-row products < 2^34, safe to ~2^29 rows per (i,j)
  cell; pass a smaller q for bigger corpora (documented contract).
- ``pca_project`` / ``jl_project``: no shuffle at all — a broadcast
  literal matrix and one fold per output dim, whole-stage codegen.

The reference pipeline has no embedding math; this is the
training-data layer (SURVEY.md section 8), next to similarity.py.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _dot

# Quantization: embeddings -> round(x * Q) as int64. Q = 2^14 keeps
# per-row pair products inside int64 for ~5e8-row corpora at |x|<=8;
# the sums are exact integers, so cross-engine/cross-order identical.
DEFAULT_Q = 1 << 14

# Version salt for the JL matrix derivation (next to rerank.CE_SALT).
JL_SALT = "jl-v1"


def _quantized(df: DataFrame, vec_col: str, q: int) -> DataFrame:
    """round(x * q) as a bigint array, computed ONCE, JVM-side, so the
    Gram kernel sums exactly the integers the SQL oracle derives (no
    numpy re-emulation of F.round's HALF_UP decimal semantics, which
    floor(|x|+0.5) gets wrong for doubles like 2^-15 - 2^-68 where the
    +0.5 add itself rounds up)."""
    return df.select(
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * q).cast("bigint")
        ).alias("_qv")
    )


def covariance_moments(
    df: DataFrame,
    vec_col: str = "embedding",
    q: int = DEFAULT_Q,
    round_to: int = 8,
) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding column.

    Returns (i, j, n, mean_i, mean_j, cov) for 0 <= i <= j < d: cov is
    the population covariance E[x_i x_j] - E[x_i] E[x_j] computed from
    EXACT integer moment sums of the quantized vectors, so the double
    math below is the same finite expression in Spark and the SQL
    oracle.

    TRUE one-pass / one-exchange: each (i, j) cell carries its own
    first moments (sum x_i, sum x_j) alongside the product sum, so no
    second scan and no join is ever needed; only per-batch/partition
    x d(d+1)/2 partial rows shuffle. The sums are a per-Arrow-batch
    integer Gram matrix, one numpy matmul in mapInPandas — the
    construction Spark MLlib's RowMatrix uses (per-partition BLAS
    gramian + tree merge), ~35x the throughput of a codegen explode
    -> hash aggregate at d=64, since the d^2 inner loop runs in C.

    Null input is total: a null vector adds to no cell and is not
    counted in ``n``; a null element counts as 0 and its row still
    counts. That is SQL's explode/sum/count(1) semantics, so the
    result equals the explode form bit for bit wherever a cell has at
    least one non-null product (SQL's sum of no values is null, this
    kernel's is 0). Vectors of different lengths are allowed: each row
    adds only to the cells its own length spans, so ``n`` is per cell,
    as SQL's count(1) over the explode.
    """
    sums = _gram_arrow(_quantized(df, vec_col, q))
    qd = float(q)
    mean_i = F.col("s_i").cast("double") / F.col("n") / qd
    mean_j = F.col("s_j").cast("double") / F.col("n") / qd
    cov = (
        F.col("s").cast("double") / F.col("n")
        - (F.col("s_i").cast("double") / F.col("n"))
        * (F.col("s_j").cast("double") / F.col("n"))
    ) / (qd * qd)
    return sums.select(
        "i",
        "j",
        "n",
        F.round(mean_i, round_to).alias("mean_i"),
        F.round(mean_j, round_to).alias("mean_j"),
        F.round(cov, round_to).alias("cov"),
    )


def _gram_arrow(dfq: DataFrame) -> DataFrame:
    """Partial integer Gram sums per Arrow batch, merged in one tiny
    map-side-combined aggregate: (i, j, s, s_i, s_j, n) per cell.
    Input is the already-quantized ``_qv`` bigint-array column — the
    kernel only matmuls, it never rounds. Null vectors are dropped and
    null elements zeroed JVM-side first: pandas would otherwise hand
    the kernel a float array whose NaN casts to an arbitrary int64."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("p", T.LongType()),
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("c", T.LongType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            vecs = pdf["_qv"].to_numpy()
            lens = pdf["_qv"].map(len).to_numpy()
            # one Gram per vector length: a row adds only to the cells
            # its own length spans, and n stays per cell
            for d in np.unique(lens):
                rows = vecs[lens == d]
                qm = np.stack(rows).astype(np.int64)
                g = qm.T @ qm  # exact int64 Gram
                s1 = qm.sum(axis=0)
                iu, ju = np.triu_indices(d)
                yield pd.DataFrame(
                    {
                        "i": iu.astype(np.int32),
                        "j": ju.astype(np.int32),
                        "p": g[iu, ju],
                        "a": s1[iu],
                        "b": s1[ju],
                        "c": np.full(len(iu), len(rows), dtype=np.int64),
                    }
                )

    zero = F.lit(0).cast("bigint")
    clean = dfq.filter(F.col("_qv").isNotNull()).select(
        F.transform("_qv", lambda x: F.coalesce(x, zero)).alias("_qv")
    )
    partials = clean.mapInPandas(kernel, schema=schema)
    return partials.groupBy("i", "j").agg(
        F.sum("p").alias("s"),
        F.sum("a").alias("s_i"),
        F.sum("b").alias("s_j"),
        F.sum("c").alias("n"),
    )


def pca_components(
    df: DataFrame,
    r: int,
    vec_col: str = "embedding",
    q: int = DEFAULT_Q,
) -> tuple[list[list[float]], list[float], list[float]]:
    """Top-``r`` principal components from one distributed pass.

    Collects only the d x d covariance (CONFIG-sized — d=64 is 2 080
    upper-triangle cells) and eigendecomposes driver-side with numpy.
    Returns (components[r][d], explained_variance[r], mean[d]); each
    component's sign is canonicalized (first max-|.|-entry positive)
    so the output is deterministic across eigensolvers.
    """
    import numpy as np

    rows = covariance_moments(df, vec_col, q=q, round_to=12).collect()
    if not rows:
        raise ValueError(f"no vectors: input has zero rows in {vec_col!r}")
    d = max(row["j"] for row in rows) + 1
    cov = np.zeros((d, d))
    mean = [0.0] * d
    for row in rows:
        cov[row["i"], row["j"]] = cov[row["j"], row["i"]] = row["cov"]
        if row["i"] == row["j"]:
            mean[row["i"]] = float(row["mean_i"])
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:r]
    comps, variances = [], []
    for k in order:
        vec = evecs[:, k]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
        variances.append(float(evals[k]))
    return comps, variances, mean


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    mean: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Project each vector onto the given components (mean-centered).

    Components/mean are broadcast literals; the projection is r folds
    in whole-stage codegen — zero shuffle, zero Python.
    """
    centered = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(v) for v in mean]),
        lambda x, mu: x.cast("double") - mu,
    )
    cols = [
        F.round(
            _dot(centered, F.array(*[F.lit(v) for v in comp])), round_to
        ).alias(f"pc{k}")
        for k, comp in enumerate(components)
    ]
    return df.select(F.col(id_col), *cols)


def jl_matrix(in_dim: int, out_dim: int, seed: str = JL_SALT) -> list[list[float]]:
    """Deterministic sparse Achlioptas projection matrix, out_dim rows.

    Entry (k, i) = sqrt(3/out_dim) * {+1 if u < 1/6, -1 if u > 5/6,
    else 0} with u = md5("{seed}:{i}:{k}")[:8] / 2^32 — the exact
    derivation the SQL oracle replays, so both engines project with
    the bit-identical matrix.
    """
    # math.sqrt (not ** 0.5) so the scale is the IEEE-correctly-rounded
    # value DuckDB's sqrt() also produces — bit-equal matrices.
    scale = math.sqrt(3.0 / out_dim)
    rows = []
    for k in range(out_dim):
        row = []
        for i in range(in_dim):
            h = hashlib.md5(f"{seed}:{i}:{k}".encode()).hexdigest()
            u = int(h[:8], 16) / 4294967296.0
            row.append(scale if u < 1 / 6 else (-scale if u > 5 / 6 else 0.0))
        rows.append(row)
    return rows


def jl_project(
    df: DataFrame,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = JL_SALT,
    round_to: int = 6,
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss projection to ``out_dim`` columns y0..y_k.

    Data-independent (no training pass), zero-shuffle, codegen-only —
    the cheapest distance-preserving reducer for LSH pre-hashing or
    near-dup pre-filtering at 100 TB.

    Pass ``in_dim`` to keep the call fully lazy; otherwise one row is
    peeked to learn the vector width (an extra small Spark job).
    """
    if in_dim is None:
        head = df.select(vec_col).head(1)
        if not head or head[0][0] is None:
            raise ValueError(
                f"cannot infer in_dim from an empty {vec_col!r} column; "
                "pass in_dim explicitly"
            )
        in_dim = len(head[0][0])
    mat = jl_matrix(in_dim, out_dim, seed)
    cols = [
        F.round(
            _dot(F.col(vec_col), F.array(*[F.lit(v) for v in row])), round_to
        ).alias(f"y{k}")
        for k, row in enumerate(mat)
    ]
    return df.select(F.col(id_col), *cols)
