"""Multimodal column plumbing — image/audio/video as opaque binary
columns with typed metadata.

No image/audio decode library is a dependency, so each decode kernel
is a deterministic stub (md5 over the media bytes) that a SQL oracle
reproduces; everything Spark-side — binary column handling, metadata
schema, Arrow batch shape through mapInPandas, partitioning — is real
and tested. A real PIL/torchaudio decode replaces the stub in the
kernel body (``_fake_features`` for features, the md5 lines in
``resize_media``/``sample_frames``/``media_phash``).

Scale shape: media bytes travel in their own column so column pruning
keeps them out of every stage that doesn't decode; decode runs in
mapInPandas (Arrow batches, one Python roundtrip per batch, never per
row) and is embarrassingly parallel.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..snapshot import snapshot


FEATURE_DIM = 4

MEDIA_SCHEMA_SUFFIX = (
    "media binary, media_format string, media_width int, media_height int, media_n_bytes int"
)


def attach_fake_media(df: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Deterministic synthetic media column: the md5 digest bytes of the
    text stand in for encoded image bytes; metadata derived from id
    arithmetic. (Real pipelines read bytes from object storage.)"""
    return df.select(
        id_col,
        F.unhex(F.md5(F.col(text_col))).alias("media"),
        F.element_at(
            F.array(F.lit("png"), F.lit("jpeg"), F.lit("webp")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("media_format"),
        (F.col(id_col) % 16 + 16).cast("int").alias("media_width"),
        (F.col(id_col) % 9 + 9).cast("int").alias("media_height"),
        F.length(F.unhex(F.md5(F.col(text_col)))).cast("int").alias("media_n_bytes"),
    )


def _fake_features(media: bytes, width: int, height: int) -> list[float]:
    """Deterministic stand-in for a decoded-image feature vector:
    4 floats derived from the byte content + dims. Same signature and
    batch shape as a real extractor.

    The hash is taken over the HEX of the bytes (not the raw bytes) so
    an independent SQL oracle can reproduce it — DuckDB's md5() only
    accepts VARCHAR. The kernel still consumes the binary column."""
    h = hashlib.md5(bytes(media).hex().encode()).digest()
    return [
        int.from_bytes(h[0:4], "big") / 2**32,
        int.from_bytes(h[4:8], "big") / 2**32,
        float(width) / 64.0,
        float(height) / 32.0,
    ]


def extract_features(df: DataFrame, id_col="doc_id") -> DataFrame:
    """mapInPandas feature extraction over media batches. The Arrow
    batch is the unit of Python work; schema and partitioning are the
    production shape regardless of the stubbed kernel."""
    out_schema = f"{id_col} long, media_format string, features array<double>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_features(m, w, h)
                for m, w, h in zip(
                    pdf["media"], pdf["media_width"], pdf["media_height"]
                )
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "media_format": pdf["media_format"],
                    "features": feats,
                }
            )

    cols = [id_col, "media", "media_format", "media_width", "media_height"]
    return df.select(*cols).mapInPandas(kernel, schema=out_schema)


def resize_media(
    df: DataFrame, target_w: int, target_h: int, id_col="doc_id"
) -> DataFrame:
    """mapInPandas resize: same row count, new media bytes + updated
    dims. The stub kernel derives output bytes deterministically from
    (input bytes, target dims) — same signature, Arrow batch shape and
    schema as a real PIL/libvips resize, which replaces the md5 line."""
    out_schema = (
        f"{id_col} long, media binary, media_format string, "
        "media_width int, media_height int, media_n_bytes int"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # hex-of-bytes hashing so a SQL oracle can reproduce the
            # stub output (see _fake_features)
            resized = [
                hashlib.md5(
                    (bytes(m).hex() + f"{target_w}x{target_h}").encode()
                ).digest()
                for m in pdf["media"]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "media": resized,
                    "media_format": pdf["media_format"],
                    "media_width": target_w,
                    "media_height": target_h,
                    "media_n_bytes": [len(b) for b in resized],
                }
            )

    cols = [id_col, "media", "media_format"]
    return df.select(*cols).mapInPandas(kernel, schema=out_schema)


def sample_frames(
    df: DataFrame, n_frames: int, id_col="doc_id"
) -> DataFrame:
    """mapInPandas frame sampling — the one-to-many media op (a video
    row fans out to ``n_frames`` frame rows, each with its own bytes).
    The stub kernel derives frame bytes from (video bytes, frame index);
    a real ffmpeg/torchvision sampler replaces the md5 line.
    Output rows stay inside the input's partition (no shuffle)."""
    out_schema = f"{id_col} long, frame_idx int, frame binary, frame_n_bytes int"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for did, m in zip(pdf[id_col], pdf["media"]):
                for i in range(n_frames):
                    fb = hashlib.md5(
                        (bytes(m).hex() + f"frame{i}").encode()
                    ).digest()
                    ids.append(did)
                    idxs.append(i)
                    frames.append(fb)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_idx": idxs,
                    "frame": frames,
                    "frame_n_bytes": [len(b) for b in frames],
                }
            )

    return df.select(id_col, "media").mapInPandas(kernel, schema=out_schema)


PHASH_BANDS = 4  # 64-bit hash as 4 x 16-bit band columns


def media_phash(df: DataFrame, id_col="doc_id") -> DataFrame:
    """Perceptual 64-bit media hash, stored as ``PHASH_BANDS`` 16-bit
    band columns (band0..band3) — the storage layout multi-index
    Hamming search needs, and sign-safe in every engine (a full 64-bit
    value can't live in a signed BIGINT; four 16-bit slices can).

    A real kernel is a DCT pHash over the decoded image (a mapInPandas
    batch, like :func:`extract_features`); with no decode library, the
    stub derives the 64 bits from md5(hex(bytes)) in pure codegen —
    zero UDFs, and exactly reproducible by a SQL oracle. The search
    structure downstream is identical either way.
    """
    h = F.md5(F.hex(F.col("media")))
    bands = [
        F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10)
        .cast("bigint")
        .alias(f"band{i}")
        for i in range(PHASH_BANDS)
    ]
    return df.select(id_col, F.substring(h, 1, 16).alias("phash_hex"), *bands)


def phash_neardup(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate media pairs under Hamming distance, via
    multi-index hashing (Norouzi et al. 2012): two 64-bit hashes within
    ``max_hamming <= PHASH_BANDS - 1`` bit flips must agree EXACTLY on
    at least one 16-bit band (pigeonhole), so candidates come from
    per-band equality self-joins — never an all-pairs product — and the
    exact ``bit_count(xor)`` filter runs only on candidates.

    Scale shape: the band table is narrow (id + one band value per
    row); one shuffle on the (band_idx, band_value) key, AQE skew-join
    splits hot buckets (e.g. solid-color images sharing a band), then a
    co-partitioned id join rehydrates the full hashes for the exact
    distance check. Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    if max_hamming > PHASH_BANDS - 1:
        raise ValueError(
            f"multi-index with {PHASH_BANDS} bands is exact only for "
            f"max_hamming <= {PHASH_BANDS - 1}, got {max_hamming}"
        )
    hashes = df.select(
        id_col, *[f"band{i}" for i in range(PHASH_BANDS)]
    ).transform(snapshot)  # snapshot: joined 3x below, never recompute
    band_rows = hashes.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("bi"), F.col(f"band{i}").alias("bv")
                )
                for i in range(PHASH_BANDS)
            ])
        ).alias("_b"),
    ).select("_id", F.col("_b.bi").alias("bi"), F.col("_b.bv").alias("bv"))
    pairs = (
        band_rows.alias("l")
        .join(
            band_rows.alias("r"),
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
        )
        .distinct()
    )
    a = hashes.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"band{i}").alias(f"_la{i}") for i in range(PHASH_BANDS)],
    )
    b = hashes.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"band{i}").alias(f"_lb{i}") for i in range(PHASH_BANDS)],
    )
    ham = sum(
        F.bit_count(F.expr(f"_la{i} ^ _lb{i}")) for i in range(PHASH_BANDS)
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def media_metadata(df: DataFrame, id_col="doc_id") -> DataFrame:
    """Metadata-only projection — verifies column pruning keeps the
    binary column out of the scan when not needed."""
    return df.select(
        id_col, "media_format", "media_width", "media_height", "media_n_bytes"
    )
