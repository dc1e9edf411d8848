"""Multimodal binary-column operators: metadata sniff and exact dedup."""

from cloudbrush_spark.operators import multimodal


def _blobs(spark, rows):
    return spark.createDataFrame(rows, "path string, content binary")


def test_binary_metadata_sniffs_magic_bytes(spark):
    png = b"\x89PNG\r\n\x1a\n" + b"x" * 16
    jpg = b"\xff\xd8\xff\xe0" + b"y" * 16
    raw = b"just some bytes"
    meta = {r.path: r for r in multimodal.binary_metadata(
        _blobs(spark, [("p", png), ("j", jpg), ("r", raw)])).collect()}
    assert meta["p"].format == "png" and meta["j"].format == "jpeg"
    assert meta["r"].format == "unknown"
    assert meta["r"].byte_len == len(raw)
    import hashlib
    assert meta["r"].content_md5 == hashlib.md5(raw).hexdigest()
    assert meta["r"].content_sha256 == hashlib.sha256(raw).hexdigest()


def test_exact_binary_dedup_groups_identical_payloads(spark):
    df = _blobs(spark, [("a", b"AAA"), ("b", b"AAA"), ("c", b"BBB")])
    out = {r.survivor_id: (r.n_copies, r.total_bytes)
           for r in multimodal.exact_binary_dedup(df).collect()}
    assert out == {"a": (2, 6), "c": (1, 3)}

