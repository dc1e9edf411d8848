"""Multimodal (binary) column operators: opaque image/audio/video payloads
as ``binary`` columns with typed metadata and content-hash dedup.

Payload bytes stay opaque to the planner: every metadata and digest column
is a JVM expression (md5/sha2/length/magic-byte prefix, inside whole-stage
codegen), and exact dedup is one hash aggregate on the content digest.

The reference has no media surface; this generalizes its canonical-form
dedup (src/Brush/GenNonContainedReads.java:118-126 — group by content key,
collapse duplicates) to binary payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# magic-byte prefixes (hex, uppercase) -> sniffed format
_MAGIC = {
    "89504E47": "png",
    "FFD8FF": "jpeg",
    "47494638": "gif",
    "52494646": "riff",      # wav/avi/webp container
    "66747970": "mp4",       # ftyp at offset 4; checked against bytes 5-8
    "494433": "mp3",
    "4F676753": "ogg",
}


def binary_metadata(df: DataFrame, content_col: str = "content",
                    id_col: str = "path") -> DataFrame:
    """Typed metadata over an opaque binary column — pure JVM expressions:
    byte length, md5/sha256 digests, magic-byte format sniff."""
    hx = F.upper(F.hex(F.substring(F.col(content_col), 1, 12)))
    fmt = F.lit("unknown")
    for magic, name in sorted(_MAGIC.items(), key=lambda kv: -len(kv[0])):
        cond = hx.startswith(magic)
        if name == "mp4":  # ftyp sits at byte offset 5
            cond = F.substring(hx, 9, 8) == magic
        fmt = F.when(cond, F.lit(name)).otherwise(fmt)
    return df.select(
        F.col(id_col),
        F.length(F.col(content_col)).alias("byte_len"),
        F.md5(F.col(content_col)).alias("content_md5"),
        F.sha2(F.col(content_col), 256).alias("content_sha256"),
        fmt.alias("format"),
    )


def exact_binary_dedup(df: DataFrame, content_col: str = "content",
                       id_col: str = "path") -> DataFrame:
    """Exact payload dedup: one survivor (min id) per content digest +
    copy count + bytes reclaimable.  Single hash aggregate on the digest —
    the binary twin of P1 (src/Brush/GenNonContainedReads.java:174-248)."""
    return (
        df.select(F.col(id_col), F.col(content_col))
        .withColumn("content_md5", F.md5(F.col(content_col)))
        .withColumn("byte_len", F.length(F.col(content_col)))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("byte_len").alias("total_bytes"),
        )
    )

