"""Corpus publish sink: split partitioning, file-count bounds, pruning,
round-trip fidelity (sources/corpus.py)."""

import os
import tempfile

from pyspark.sql import functions as F

from cloudbrush_spark.sources import corpus


def _fixture(spark, n=200):
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body "), F.col("id")).alias("text"))
    manifest = spark.range(n).filter(F.col("id") % 10 != 0).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0, "test")
         .when(F.col("id") % 5 == 1, "val")
         .otherwise("train").alias("split"))
    return docs, manifest


def test_publish_round_trip_and_manifest_filter(spark):
    docs, manifest = _fixture(spark)
    with tempfile.TemporaryDirectory(prefix="cb-corpus-") as d:
        path = os.path.join(d, "corpus")
        corpus.publish_corpus(docs, manifest, path, files_per_split=2)
        back = corpus.read_corpus(spark, path)
        # only manifest ids published, text intact, split correct
        exp = {(r.doc_id, r.split) for r in manifest.collect()}
        got = {(r.doc_id, r.split) for r in back.collect()}
        assert got == exp
        one = back.filter(F.col("doc_id") == 7).collect()[0]
        assert one.text == "document body 7"


def test_publish_bounds_files_per_split(spark):
    docs, manifest = _fixture(spark)
    with tempfile.TemporaryDirectory(prefix="cb-corpus-") as d:
        path = os.path.join(d, "corpus")
        corpus.publish_corpus(docs, manifest, path, files_per_split=2)
        for split in ("train", "val", "test"):
            part = os.path.join(path, f"split={split}")
            files = [f for f in os.listdir(part) if f.endswith(".parquet")]
            assert 1 <= len(files) <= 2, (split, files)


def test_read_corpus_split_prunes_partitions(spark):
    docs, manifest = _fixture(spark)
    with tempfile.TemporaryDirectory(prefix="cb-corpus-") as d:
        path = os.path.join(d, "corpus")
        corpus.publish_corpus(docs, manifest, path)
        val = corpus.read_corpus(spark, path, split="val")
        assert {r.split for r in val.collect()} == {"val"}
        # directory-level pruning: only the val partition's files scanned
        scanned = {r.f for r in val.select(
            F.input_file_name().alias("f")).distinct().collect()}
        assert scanned and all("split=val" in f for f in scanned)
        plan = val._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(split" in plan, plan


def test_published_files_are_id_sorted(spark):
    docs, manifest = _fixture(spark, n=500)
    with tempfile.TemporaryDirectory(prefix="cb-corpus-") as d:
        path = os.path.join(d, "corpus")
        corpus.publish_corpus(docs, manifest, path, files_per_split=2)
        rows = spark.read.parquet(path).select(
            F.input_file_name().alias("f"), "doc_id").collect()
        by_file: dict = {}
        for r in rows:
            by_file.setdefault(r.f, []).append(r.doc_id)
        # parquet preserves write order; each file must be internally sorted
        # so min/max row-group stats stay tight for id-range pruning
        assert by_file
        for ids in by_file.values():
            assert ids == sorted(ids)


def test_publish_replaces_stale_split_column(spark):
    docs, manifest = _fixture(spark)
    stale = docs.withColumn("split", F.lit("stale"))
    with tempfile.TemporaryDirectory(prefix="cb-corpus-") as d:
        path = os.path.join(d, "corpus")
        corpus.publish_corpus(stale, manifest, path)
        back = corpus.read_corpus(spark, path)
        # the manifest's assignment wins; no ambiguous-column crash
        assert {r.split for r in back.collect()} == {"train", "val", "test"}
