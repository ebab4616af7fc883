"""Multimodal columns: image/audio/video as opaque binary payloads
with typed metadata, plus a digest-derived feature vector.

The container has no codec or model packages, so ``extract_features``
is a deterministic stand-in for a model embedding: feature ``i`` is
md5 digest byte ``i % 16`` of the payload, scaled to [0, 1). The md5
math runs in whole-stage codegen, so payloads never leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KINDS = ["image", "audio", "video"]

FEATURE_DIM = 8


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from documents: payload is the
    utf-8 text bytes (a stand-in for real image/audio blobs), kind
    cycles by id, metadata is derived arithmetically. JVM-side only."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    payload = F.encode(F.col("text"), "utf-8")
    meta = F.struct(
        (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        F.lit("stub").alias("codec"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """(media_id, kind, n_bytes, features[FEATURE_DIM]) from the payload.

    ``features[i]`` is md5 digest byte ``i % 16`` scaled to [0, 1),
    read from the md5 hex with substring/conv column expressions; a
    null payload hashes as empty bytes and counts 0 bytes.
    """
    pay = F.coalesce(F.col("payload"), F.encode(F.lit(""), "utf-8"))
    h = F.md5(pay)
    feats = F.array(
        *[
            F.conv(F.substring(h, 2 * (i % 16) + 1, 2), 16, 10).cast("int")
            / F.lit(256.0)
            for i in range(FEATURE_DIM)
        ]
    )
    return media.select(
        "media_id",
        "kind",
        F.coalesce(F.octet_length("payload"), F.lit(0)).cast("long").alias("n_bytes"),
        feats.alias("features"),
    )
