"""The `python -m cloudbrush_spark` CLI: the reference driver's three
entry points (full assembly / -run_stats / -convert_fa) over a small
genome-sliced read set, end to end through the real Assembler."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloudbrush_spark.__main__ import main  # noqa: E402
from tests.test_curation import GOOD, GOOD2  # noqa: E402

# deterministic quality filler: enough distinct words, low repetition
FILLER = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon")
PLANTED = ("this work is licensed under the creative commons attribution "
           "share alike four point zero international license terms")


def _write_reads(path: str) -> str:
    # 40 reads of length 20 tiling a 120 bp deterministic "genome" with
    # heavy overlap — assembles into few contigs at k=9
    import hashlib
    g = "".join("ACGT"[b % 4] for b in hashlib.sha256(b"cli-genome").digest() * 4)[:120]
    with open(path, "w") as fh:
        for i in range(40):
            lo = (i * 3) % (len(g) - 20)
            fh.write(f"r{i:03d}\t{g[lo:lo + 20]}\n")
    return path


def test_cli_assemble_stats_convert(tmp_path, spark, capsys):
    sfa = _write_reads(str(tmp_path / "reads.sfa"))
    out = str(tmp_path / "asm")

    rc = main(["-reads", sfa, "-asm", out, "-k", "9", "-readlen", "20"])
    assert rc == 0
    assert os.path.exists(os.path.join(out, "nodes.parquet"))
    assert os.path.exists(os.path.join(out, "edges.parquet"))
    fasta_dir = os.path.join(out, "contigs.fa")
    parts = [f for f in os.listdir(fasta_dir) if f.startswith("part-")]
    text = "".join(open(os.path.join(fasta_dir, p)).read() for p in parts)
    assert text.startswith(">") and "len=" in text
    captured = capsys.readouterr().out
    assert "counters:" in captured and "size distribution" in captured

    rc = main(["-run_stats", out, "-genome", "120"])
    assert rc == 0
    assert "genome-target N50" in capsys.readouterr().out

    rc = main(["-convert_fa", out])
    assert rc == 0

    # missing required args -> help + exit 2, not a traceback
    assert main([]) == 2


def test_cli_curate_publishes_corpus(tmp_path, spark, capsys):
    from pyspark.sql import functions as F
    base = ("the quick brown fox jumps over the lazy dog and runs to the "
            "river every morning for a drink of cold clear water ")
    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(base), F.lit("variant word "), F.col("id")).alias("text"))
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "published")

    rc = main(["-curate", src, "-out", out, "-files_per_split", "1"])
    assert rc == 0
    assert "published:" in capsys.readouterr().out
    manifest = spark.read.parquet(os.path.join(out, "manifest.parquet"))
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert manifest.count() == corpus.count() > 0
    # published rows carry the original text and a valid split
    row = corpus.limit(1).collect()[0]
    assert row.text.startswith(base) and row.split in ("train", "val", "test")

    # -curate without -out is a usage error, not a traceback
    import pytest
    with pytest.raises(SystemExit):
        main(["-curate", src])


def test_cli_curate_with_benchmark_decontaminates(tmp_path, spark, capsys):
    from pyspark.sql import functions as F
    base = ("the quick brown fox jumps over the lazy dog and runs to the "
            "river every morning for a drink of cold clear water ")
    other = ("a completely different tale about the sea and the ships that "
             "sail in it for trade and glory with cargo of spice and silk "
             "carried to the southern ports by the wind ")
    docs = spark.createDataFrame(
        [(0, base + "zero"), (1, base + "one"), (2, other + "two")],
        "doc_id long, text string")
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")
    bpath = str(tmp_path / "bench.parquet")
    bench.write.parquet(bpath)
    out = str(tmp_path / "published")

    rc = main(["-curate", src, "-out", out, "-files_per_split", "1",
               "-benchmark", bpath, "-decontam_n", "8"])
    assert rc == 0
    manifest = spark.read.parquet(os.path.join(out, "manifest.parquet"))
    kept = {r.doc_id for r in manifest.collect()}
    assert kept == {2}  # the two benchmark-overlapping docs are dropped


def test_cli_curate_with_semantic_decontamination(tmp_path, spark, capsys):
    from pyspark.sql import functions as F
    base = ("the quick brown fox jumps over the lazy dog and runs to the "
            "river every morning for a drink of cold clear water ")
    other = ("a completely different tale about the sea and the ships that "
             "sail in it for trade and glory with cargo of spice and silk "
             "carried to the southern ports by the wind ")
    docs = spark.createDataFrame(
        [(0, base + "zero"), (1, other + "one")], "doc_id long, text string")
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    # doc 0's embedding rides the benchmark direction; doc 1 orthogonal
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    vpath = str(tmp_path / "vecs.parquet")
    vecs.write.parquet(vpath)
    bvec = spark.createDataFrame(
        [(900, [3.0, 0.0])], "vec_id long, embedding array<float>")
    bpath = str(tmp_path / "bvecs.parquet")
    bvec.write.parquet(bpath)
    out = str(tmp_path / "published")

    rc = main(["-curate", src, "-out", out, "-files_per_split", "1",
               "-embeddings", vpath, "-bench_embeddings", bpath])
    assert rc == 0
    manifest = spark.read.parquet(os.path.join(out, "manifest.parquet"))
    assert {r.doc_id for r in manifest.collect()} == {1}

    # one flag without the other is a usage error, either way round
    import pytest
    with pytest.raises(SystemExit, match="together"):
        main(["-curate", src, "-out", out, "-embeddings", vpath])
    with pytest.raises(SystemExit, match="together"):
        main(["-curate", src, "-out", out, "-bench_embeddings", bpath])


def test_cli_curate_boiler_df_scrubs_published_text(tmp_path, spark, capsys):
    from pyspark.sql import functions as F
    base = ("the quick brown fox jumps over the lazy dog and runs to the "
            "river every morning for a drink of cold clear water ")
    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(base), F.lit("variant word "), F.col("id"),
                 F.lit("\nsubscribe to our newsletter")).alias("text"))
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "published")

    rc = main(["-curate", src, "-out", out, "-files_per_split", "1",
               "-boiler_df", "1"])
    assert rc == 0
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.count() > 0
    # the shared newsletter line is gone from every published doc; the
    # unique first line survives intact
    assert corpus.filter(
        F.col("text").contains("subscribe to our newsletter")).count() == 0
    row = corpus.limit(1).collect()[0]
    assert row.text.startswith(base) and "\n" not in row.text

    # -scrub_spans_df: a passage planted verbatim in all 12 docs is
    # scrubbed before curate; the two base texts (df=6 each, below the
    # cutoff of 7) survive — the scrub is targeted, not a dedup
    rows = [(i, f"{GOOD if i % 2 == 0 else GOOD2} {FILLER} unique token "
                f"number {i} ends here {PLANTED}") for i in range(12)]
    src2 = str(tmp_path / "planted.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src2)
    out2 = str(tmp_path / "published_spans")
    rc = main(["-curate", src2, "-out", out2, "-files_per_split", "1",
               "-max_tokens", "2000", "-scrub_spans_df", "7"])
    assert rc == 0
    corpus = spark.read.parquet(os.path.join(out2, "corpus"))
    assert corpus.count() > 0
    assert corpus.filter(
        F.col("text").contains("creative commons")).count() == 0
    assert corpus.filter(
        F.col("text").contains("quick brown fox")
        | F.col("text").contains("story about the sea")).count() \
        == corpus.count()
    # the scrub runs before curate, so every manifest ws_tokens is the
    # whitespace token count of the text the corpus actually shipped
    man = spark.read.parquet(os.path.join(out2, "manifest.parquet"))
    shipped = corpus.join(man.select("doc_id", "ws_tokens"), "doc_id")
    assert shipped.count() == corpus.count()
    assert shipped.filter(F.size(F.split(F.trim("text"), r"\s+"))
                          != F.col("ws_tokens")).count() == 0


def test_cli_curate_reads_jsonl_input(tmp_path, spark, capsys):
    import json as _json
    base = ("the quick brown fox jumps over the lazy dog and runs to the "
            "river every morning for a drink of cold clear water ")
    d = str(tmp_path / "crawl")
    os.makedirs(d)
    with open(os.path.join(d, "dump.jsonl"), "w") as fh:
        for i in range(30):
            fh.write(_json.dumps({
                "doc_id": i, "text": base + f"variant word {i}",
                "lang": "en", "source": "crawl"}) + "\n")
    out = str(tmp_path / "published")
    rc = main(["-curate", d, "-input_format", "jsonl", "-out", out,
               "-files_per_split", "1"])
    assert rc == 0
    assert "published:" in capsys.readouterr().out
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.count() > 0
    assert corpus.limit(1).collect()[0].text.startswith(base)


def test_cli_ckpt_refused_outside_assembly(tmp_path, spark):
    """-ckpt names assembly stage checkpoints; every entry point that
    does not assemble refuses it instead of silently ignoring it."""
    import pytest
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame([(0, f"{GOOD} {FILLER}")],
                          "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "published")
    ckpt = str(tmp_path / "ckpt")
    for argv in (["-curate", src, "-out", out],
                 ["-sql", "SELECT 1", "-data", str(tmp_path)],
                 ["-run_stats", str(tmp_path)],
                 ["-convert_fa", str(tmp_path)]):
        with pytest.raises(SystemExit, match="-reads/-asm"):
            main(argv + ["-ckpt", ckpt])
    assert not os.path.exists(out) and not os.path.exists(ckpt)


def test_cli_sql_runs_query_over_registered_views(tmp_path, spark, capsys):
    """-sql executes a textual query over the -data views and prints
    JSON rows; -out writes parquet instead."""
    import json
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    rc = main(["-sql",
               "SELECT n_name, count(*) AS n FROM nation "
               "GROUP BY n_name ORDER BY n_name LIMIT 3",
               "-data", sf])
    assert rc == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    rows = [json.loads(ln) for ln in lines]
    assert rows and all(r["n"] == 1 for r in rows)
    assert rows == sorted(rows, key=lambda r: r["n_name"])
    # -out writes parquet
    outp = str(tmp_path / "sqlout")
    rc = main(["-sql", "SELECT count(*) AS n FROM region",
               "-data", sf, "-out", outp])
    assert rc == 0
    assert spark.read.parquet(outp).first().n == 5


def test_cli_sql_view_pushdown(tmp_path, spark, capsys):
    """The -data view layer is purely logical: a filtered SQL over a
    table view still pushes the predicate into the parquet scan and
    prunes columns (the temp view costs nothing over the DataFrame
    API)."""
    from cloudbrush_spark import sql as cbsql
    from tests import plan_checks
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    cbsql.register_table_views(spark, sf, tables=("part",))
    q = cbsql.run_sql(spark,
                      "SELECT p_partkey FROM part WHERE p_size > 40")
    pushed = plan_checks.pushed_filters(q)
    assert pushed and "p_size" in pushed[0]
    schemas = plan_checks.read_schema(q)
    assert schemas and "p_name" not in schemas[0]


def test_cli_sql_without_views_errors(tmp_path, spark):
    import pytest
    with pytest.raises(SystemExit):
        main(["-sql", "SELECT 1"])


def _varied_docs(spark, n=30):
    """Docs distinct enough to SURVIVE the near-dup cluster dedup with
    per-doc quality spread: a shared English base plus a doc-specific
    gibberish tail whose varying length shifts the stopword-ratio
    component."""
    rows = []
    for i in range(n):
        tail = " ".join(f"tok{i}x{j}" for j in range(10 + (i * 7) % 20))
        rows.append((i, f"{GOOD} {FILLER} {tail}",
                     "webcrawl" if i % 2 else "curated"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string")


def test_curate_cli_report_flag(tmp_path, spark, capsys):
    from cloudbrush_spark.__main__ import main
    src = str(tmp_path / "docs.parquet")
    _varied_docs(spark).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["-curate", src, "-out", out, "-files_per_split", "1",
               "-max_tokens", "2000", "-report"])
    assert rc == 0
    card = spark.read.parquet(os.path.join(out, "report.parquet"))
    assert card.filter("k1 = 'corpus'").count() == 1
