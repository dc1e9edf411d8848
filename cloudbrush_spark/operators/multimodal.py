"""Multimodal (binary) column operators: opaque image/audio/video payloads
as ``binary`` columns with typed metadata, content-hash dedup and a
perceptual-hash-style near-dup path.

Design for 100 TB of media:
- payload bytes stay opaque to the planner; every metadata/hash column is
  either a JVM expression (md5/sha2/length/magic-byte prefix — inside
  whole-stage codegen) or an Arrow-batched pandas stage (never row-at-a-
  time Python);
- exact dedup is a hash aggregate on the content digest (bounded key);
- near-dup reuses the banded Hamming core (``dedup.hamming_near_pairs``)
  over a 64-bit blockhash — identical scale levers: distinct-signature
  banding, adaptive chunk width, bucket caps.

The reference has no media surface; this generalizes its canonical-form
dedup (src/Brush/GenNonContainedReads.java:118-126 — group by content key,
collapse duplicates) and fingerprint machinery to binary payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

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


# --------------------------------------------------------------------------
# blockhash: 64-bit perceptual-style signature over raw bytes
# --------------------------------------------------------------------------

_BLOCKHASH_SCHEMA = "id string, bh_hi long, bh_lo long"


def blockhash64(df: DataFrame, content_col: str = "content",
                id_col: str = "path") -> DataFrame:
    """64-bit blockhash: split the payload into 64 equal byte blocks; bit i
    is 1 iff block i's mean byte value exceeds the global mean.  The
    byte-level analogue of image blockhash (robust to container-level
    noise, content-addressed, deterministic) — computed in an Arrow-batched
    pandas stage with numpy, never per-row Python.

    Output: (id, bh_hi, bh_lo) as two 32-bit halves, join-compatible with
    ``dedup.hamming_near_pairs``.
    """
    import numpy as np
    import pandas as pd

    src = df.select(F.col(id_col).cast("string").alias("id"),
                    F.col(content_col).alias("c"))

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, his, los = [], [], []
            for i, buf in zip(pdf["id"], pdf["c"]):
                b = np.frombuffer(bytes(buf), dtype=np.uint8)
                if b.size == 0:
                    ids.append(i); his.append(0); los.append(0)
                    continue
                if b.size < 64:          # wrap-pad tiny payloads
                    b = np.resize(b, 64)
                trim = b[: (b.size // 64) * 64]
                blocks = trim.reshape(64, -1).mean(axis=1)
                bits = (blocks > trim.mean()).astype(np.uint64)
                val = 0
                for k in range(64):
                    val |= int(bits[k]) << k
                ids.append(i)
                his.append(int((val >> 32) & 0xFFFFFFFF))
                los.append(int(val & 0xFFFFFFFF))
            yield pd.DataFrame({"id": ids, "bh_hi": his, "bh_lo": los})

    return src.mapInPandas(batches, _BLOCKHASH_SCHEMA)


def blockhash_near_pairs(df: DataFrame, content_col: str = "content",
                         id_col: str = "path", max_hamming: int = 3,
                         bucket_cap: int = 1000) -> DataFrame:
    """Near-duplicate payload pairs by blockhash Hamming distance, via the
    shared banded core (see dedup.hamming_near_pairs for the 100 TB design:
    distinct-signature banding, adaptive chunks, bucket caps)."""
    from cloudbrush_spark.operators.dedup import hamming_near_pairs
    sig = blockhash64(df, content_col, id_col)
    return hamming_near_pairs(sig, "id", "bh_hi", "bh_lo",
                              max_hamming=max_hamming, bucket_cap=bucket_cap)

