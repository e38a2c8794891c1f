"""Multimodal (binary) column plumbing for training-data pipelines.

Media payloads (image/audio/video) are opaque `binary` columns with typed
metadata, processed in Arrow batches via mapInPandas. The actual codecs are
NOT available in this environment, so decode is stubbed behind
`decode_image` (deterministic fake) / NotImplementedError — the Spark-side
plumbing (schema, batching, partitioning, UDF signature) is real and
tested. The reference's analog is the per-page rendered image next to its
OCR text (file_analysis_service.py:566-583, S4).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("sha256", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("format", StringType(), True),
    ]
)

REAL_CODECS_AVAILABLE = False
try:  # pragma: no cover - not present in this container
    import PIL.Image  # noqa: F401

    REAL_CODECS_AVAILABLE = True
except Exception:
    pass


def decode_image(data: bytes) -> tuple[int, int, str]:
    """STUB: deterministic fake decode. With real codecs this would be
    PIL.Image.open(io.BytesIO(data)).size; here width/height derive from the
    payload hash so tests are stable. Raises when asked for real decoding."""
    if REAL_CODECS_AVAILABLE:  # pragma: no cover
        raise NotImplementedError("wire PIL decode here when codecs exist")
    h = hashlib.sha256(data).digest()
    return (64 + h[0] % 192, 64 + h[1] % 192, "fakepng")


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a binary media column (here: utf-8 bytes of the text standing
    in for an encoded image — a real corpus reads `binaryFile` sources)."""
    return df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.encode(F.col(text_col), "utf-8").cast(BinaryType()).alias("payload"),
    )


def extract_media_metadata(binary_df: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction: byte length, sha256, stub decode.
    Arrow moves the bytes in batches; no per-row Python UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_image(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(b)) for b in pdf["payload"]],
                    "sha256": [hashlib.sha256(bytes(b)).hexdigest() for b in pdf["payload"]],
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "format": [m[2] for m in metas],
                }
            )

    return binary_df.mapInPandas(run, schema=MEDIA_META_SCHEMA)


def media_context(docs: DataFrame) -> DataFrame:
    """Figure-caption candidate association over interleaved spans — the
    grounding step a multimodal KG needs before an image can evidence a
    triple: for every media span, the nearest TEXT span before and after
    it in the document's span order:

        (doc_id, media_ref, media_offset,
         prev_text, prev_offset, next_text, next_offset)

    prev/next are NULL when the image opens/closes the document (a
    leading figure has no preceding caption candidate — absence is the
    signal, not an error). Consecutive images share the same
    neighbours (last/first IGNORE NULLS, not lag/lead — a lag over the
    mixed span sequence would return the other IMAGE). Span offsets
    must be non-null (the north-rule ordering key; a null raises
    executor-side rather than silently mis-associating captions).

    Scale shape: one explode + ONE doc-partitioned window ordered by
    offset (the same doc_id hash-partitioning every other span op
    reuses) carrying last/first-ignore-nulls; images are then filtered
    — no joins, no second shuffle."""
    checked_off = F.when(
        F.col("s.offset").isNotNull(), F.col("s.offset")
    ).otherwise(
        F.raise_error(F.lit("media_context: span offset must not be NULL"))
    )
    flat = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        checked_off.cast("int").alias("offset"),
    )
    txt = F.when(
        F.col("kind") == "text",
        F.struct(F.col("offset").alias("o"), F.col("text").alias("t")),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("offset")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    after = w.rowsBetween(1, Window.unboundedFollowing)
    ctx = flat.withColumn("_prev", F.last(txt, ignorenulls=True).over(before)).withColumn(
        "_next", F.first(txt, ignorenulls=True).over(after)
    )
    return ctx.where(F.col("kind") != "text").select(
        "doc_id",
        "media_ref",
        F.col("offset").alias("media_offset"),
        F.col("_prev.t").alias("prev_text"),
        F.col("_prev.o").alias("prev_offset"),
        F.col("_next.t").alias("next_text"),
        F.col("_next.o").alias("next_offset"),
    )


def span_reuse(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Cross-document span reuse over the interleaved shape — C4's
    boilerplate rule lifted to spans: a text span repeated verbatim
    across many documents is boilerplate (banners, legal footers), and
    a media_ref shared across documents is a SHARED ASSET (the same
    logo/stock image referenced everywhere — which a multimodal
    pipeline should decode once and a dedup pass should not count as
    content). Both fall out of one aggregation:

        (kind, span_key, n_docs, n_spans)   for n_docs >= min_docs

    span_key is the text for text spans, the media_ref otherwise
    (their namespaces can't collide — kind is part of the group key).
    Empty text spans / empty media refs are excluded (nothing to
    reuse). n_docs counts DISTINCT documents; n_spans counts total
    occurrences (a banner repeated five times in one doc is one doc,
    five spans — both numbers matter: the first gates removal, the
    second prices it).

    Scale shape: explode + ONE (kind, key) aggregation with map-side
    partials; the distinct-doc count is the only non-algebraic piece
    and is bounded per key by the reuse itself. No windows, no joins."""
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    flat = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.when(F.col("s.kind") == "text", F.col("s.text"))
        .otherwise(F.col("s.media_ref"))
        .alias("span_key"),
    ).where(F.col("span_key").isNotNull() & (F.col("span_key") != ""))
    return (
        flat.groupBy("kind", "span_key")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
