"""Corpus guard operators: decontamination, PII scrub, repetition stats."""

import pytest
from pyspark.sql import functions as F

from cloudbrush_spark.operators import guard


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------

def test_decontaminate_flags_exact_ngram_overlap(spark):
    # 5-token benchmark doc; corpus doc 1 embeds its exact run, doc 2
    # shares only 4 consecutive tokens (below n=5), doc 3 is disjoint
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    corpus = _docs(spark, [
        (1, "intro alpha beta gamma delta epsilon outro"),
        (2, "alpha beta gamma delta UNRELATED epsilon"),
        (3, "zeta eta theta iota kappa lambda"),
    ])
    out = {r.doc_id: r for r in
           guard.decontaminate(corpus, bench, n=5).collect()}
    assert out[1].contaminated and out[1].n_hit_grams == 1
    assert not out[2].contaminated
    assert not out[3].contaminated
    # n_grams is distinct n-gram count: doc 3 has 6 tokens -> 2 5-grams
    assert out[3].n_grams == 2


def test_decontaminate_short_docs_and_counts(spark):
    # docs shorter than n produce zero grams and are never contaminated
    bench = _docs(spark, [(100, "a b c d e f g h i j k l m")])
    corpus = _docs(spark, [(1, "a b c"), (2, "")])
    out = {r.doc_id: r for r in
           guard.decontaminate(corpus, bench, n=13).collect()}
    assert out[1].n_grams == 0 and not out[1].contaminated
    assert out[2].n_grams == 0 and not out[2].contaminated


def test_decontaminate_counts_distinct_hit_grams(spark):
    # the same contaminated gram repeated in a doc counts once (distinct)
    bench = _docs(spark, [(100, "x y z")])
    corpus = _docs(spark, [(1, "x y z q x y z")])
    row = guard.decontaminate(corpus, bench, n=3).collect()[0]
    # grams of doc 1: {x y z, y z q, z q x, q x y} -> one hit
    assert row.n_hit_grams == 1 and row.n_grams == 4


def test_decontaminate_plan_broadcasts_benchmark(spark):
    bench = _docs(spark, [(100, "a b c d e")])
    corpus = _docs(spark, [(1, "a b c d e f")])
    plan = guard.decontaminate(corpus, bench, n=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# pii_scrub
# ---------------------------------------------------------------------------

def test_pii_scrub_counts_and_redacts(spark):
    docs = _docs(spark, [
        (1, "mail bob@example.com or alice.smith@sub.domain.org today"),
        (2, "server at 192.168.0.1 and 10.0.0.255 port"),
        (3, "call 555-867-5309 or 555 123 4567 now"),
        (4, "clean text with no identifiers at all"),
    ])
    out = {r.doc_id: r for r in guard.pii_scrub(docs).collect()}
    assert out[1].n_emails == 2 and out[1].n_ips == 0
    assert "<EMAIL>" in out[1].scrubbed and "@" not in out[1].scrubbed
    assert out[2].n_ips == 2 and "192.168.0.1" not in out[2].scrubbed
    assert out[3].n_phones == 2 and "5309" not in out[3].scrubbed
    assert out[4].n_emails == out[4].n_ips == out[4].n_phones == 0
    assert out[4].scrubbed == "clean text with no identifiers at all"


def test_pii_scrub_mixed_doc(spark):
    docs = _docs(spark, [
        (1, "bob@x.io from 1.2.3.4 dialed 555-000-1111"),
    ])
    r = guard.pii_scrub(docs).collect()[0]
    assert (r.n_emails, r.n_ips, r.n_phones) == (1, 1, 1)
    assert r.scrubbed == "<EMAIL> from <IP> dialed <PHONE>"


def test_pii_scrub_matches_duckdb_semantics(spark):
    """The oracle uses DuckDB RE2 with the same pattern strings — pin the
    cross-engine agreement on a corpus that exercises every pattern."""
    duckdb = pytest.importorskip("duckdb")
    rows = [
        (1, "a@b.co meets 999.1.2.3 x 123-456-7890"),
        (2, "no pii here"),
        (3, "EDGE: almost@an@email and 1.2.3 and 12-3456-789"),
    ]
    docs = _docs(spark, rows)
    got = {r.doc_id: (r.n_emails, r.n_ips, r.n_phones, r.scrubbed)
           for r in guard.pii_scrub(docs).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    exp = con.execute(f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{guard.EMAIL_RE}')),
               len(regexp_extract_all(text, '{guard.IPV4_RE}')),
               len(regexp_extract_all(text, '{guard.PHONE_RE}')),
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{guard.EMAIL_RE}', '<EMAIL>', 'g'),
                   '{guard.IPV4_RE}', '<IP>', 'g'),
                   '{guard.PHONE_RE}', '<PHONE>', 'g')
        FROM d""").fetchall()
    for doc_id, *vals in exp:
        assert got[doc_id] == tuple(vals), doc_id


def test_pii_scrub_cards_and_intl_phones(spark):
    docs = _docs(spark, [
        (1, "pay 4111 1111 1111 1111 now"),               # Luhn-valid
        (2, "invoice 4111 1111 1111 1112 ref"),           # fails Luhn
        (3, "call +44 20 7946 0958 or +1-800-555-0100"),  # intl x2
        (4, "bare 4111111111111111 run"),                 # valid, no sep
        (5, "mixed +33 1 42 68 53 00 fin"),
        (6, "dashed 5500-0000-0000-0004 mc"),             # Luhn-valid
    ])
    out = {r.doc_id: r for r in guard.pii_scrub(docs).collect()}
    assert out[1].n_card_candidates == out[1].n_card_ids == 1
    assert out[1].scrubbed == "pay <ID> now"
    # invalid checksum: counted as candidate, NOT redacted
    assert (out[2].n_card_candidates, out[2].n_card_ids) == (1, 0)
    assert out[2].scrubbed == "invoice 4111 1111 1111 1112 ref"
    assert out[3].n_intl_phones == 2
    assert out[3].scrubbed == "call <PHONE> or <PHONE>"
    assert out[4].n_card_ids == 1 and out[4].scrubbed == "bare <ID> run"
    assert out[5].n_intl_phones == 1 and "<PHONE>" in out[5].scrubbed
    assert out[6].n_card_ids == 1 and out[6].scrubbed == "dashed <ID> mc"


def test_pii_extended_matches_duckdb_semantics(spark):
    """Cross-engine pin for the r8 patterns: Luhn fold, card redaction
    and intl phones must agree between Spark (Java regex + aggregate) and
    DuckDB (RE2 + list fold) — the oracle's exact expression shapes."""
    duckdb = pytest.importorskip("duckdb")
    rows = [
        (1, "a 4111 1111 1111 1111 b +49 30 901820 c 5.5.5.5"),
        (2, "edge 0000 0000 0000 0000 zero"),       # Luhn-valid (all zero)
        (3, "run 1234567890123456 and 4111-1111-1111-1111"),
        (4, "+1 555 0100 short and +123456789 nosep"),
        (5, "overlap x@y.io 4111 1111 1111 1111 +44 20 7946 0958"),
    ]
    docs = _docs(spark, rows)
    got = {r.doc_id: (r.n_intl_phones, r.n_card_candidates, r.n_card_ids,
                      r.scrubbed)
           for r in guard.pii_scrub(docs).collect()}
    luhn = """(length(regexp_replace({0}, '[^0-9]', '', 'g')) > 0 AND
        list_sum(list_transform(
          generate_series(1, length(regexp_replace({0}, '[^0-9]', '', 'g'))),
          i -> CASE WHEN (length(regexp_replace({0}, '[^0-9]', '', 'g')) - i) % 2 = 1
               THEN CASE WHEN 2*CAST(substring(regexp_replace({0}, '[^0-9]', '', 'g'), i, 1) AS INT) > 9
                    THEN 2*CAST(substring(regexp_replace({0}, '[^0-9]', '', 'g'), i, 1) AS INT) - 9
                    ELSE 2*CAST(substring(regexp_replace({0}, '[^0-9]', '', 'g'), i, 1) AS INT) END
               ELSE CAST(substring(regexp_replace({0}, '[^0-9]', '', 'g'), i, 1) AS INT) END)) % 10 = 0)"""
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    exp = con.execute(f"""
        WITH s AS (
          SELECT doc_id, text,
            regexp_replace(regexp_replace(text, '{guard.EMAIL_RE}', '<EMAIL>', 'g'),
                           '{guard.IPV4_RE}', '<IP>', 'g') AS t2
          FROM d),
        c AS (
          SELECT doc_id, text,
            list_reduce(
              list_prepend(t2, list_filter(regexp_extract_all(t2, '{guard.CARD_RE}'),
                                           m -> {luhn.format('m')})),
              (acc, x) -> replace(acc, x, '<ID>')) AS t3
          FROM s)
        SELECT doc_id,
          len(regexp_extract_all(text, '{guard.INTL_PHONE_RE}')),
          len(regexp_extract_all(text, '{guard.CARD_RE}')),
          len(list_filter(regexp_extract_all(text, '{guard.CARD_RE}'),
                          m -> {luhn.format('m')})),
          regexp_replace(regexp_replace(t3, '{guard.INTL_PHONE_RE}', '<PHONE>', 'g'),
                         '{guard.PHONE_RE}', '<PHONE>', 'g')
        FROM c""").fetchall()
    for doc_id, *vals in exp:
        assert got[doc_id] == tuple(vals), (doc_id, got[doc_id], vals)


def _py_luhn(s):
    ds = [int(c) for c in s if c.isdigit()]
    if not ds:
        return False
    total = 0
    for i, d in enumerate(reversed(ds)):
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def test_luhn_valid_matches_python_reference(spark):
    """Expression-level Luhn vs the textbook python fold, over valid and
    corrupted card numbers (every single-digit corruption of a valid PAN
    must flip the verdict — the property Luhn guarantees)."""
    import random
    rnd = random.Random(8)
    cands = []
    for _ in range(30):
        body = [rnd.randrange(10) for _ in range(15)]
        # compute the check digit that makes it valid
        for chk in range(10):
            if _py_luhn("".join(map(str, body + [chk]))):
                break
        pan = "".join(map(str, body + [chk]))
        cands.append(pan)
        pos = rnd.randrange(16)
        bad = pan[:pos] + str((int(pan[pos]) + rnd.randrange(1, 10)) % 10) + pan[pos + 1:]
        cands.append(bad)
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cands)],
                               "i long, s string")
    got = {r.i: r.ok for r in df.select(
        "i", guard.luhn_valid(F.col("s")).alias("ok")).collect()}
    for i, c in enumerate(cands):
        assert got[i] == _py_luhn(c), c


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------

def test_repetition_top_grams_and_tiebreak(spark):
    docs = _docs(spark, [
        # "b c" x2 and "c b" x1; unigram top is b (3) / c (3) -> count only
        (1, "a b c b c x"),
        # tie between bigrams "p q" and "q p" (2 each) -> smallest wins
        (2, "p q p q p"),
    ])
    out = {r.doc_id: r for r in guard.repetition_stats(docs).collect()}
    assert out[1].top_bigram == "b c" and out[1].top_bigram_cnt == 2
    assert out[1].top_unigram_cnt == 2  # b twice, c twice
    assert out[1].n_tokens == 6 and out[1].n_bigrams == 5
    assert out[2].top_bigram == "p q" and out[2].top_bigram_cnt == 2
    assert out[2].top_unigram_cnt == 3


def test_repetition_degenerate_docs(spark):
    docs = _docs(spark, [
        (1, ""),            # empty
        (2, "solo"),        # one token -> no bigrams
        (3, "x x x x x x"),  # total repetition
    ])
    out = {r.doc_id: r for r in guard.repetition_stats(docs).collect()}
    assert out[1].top_bigram == "" and out[1].top_bigram_cnt == 0
    assert out[1].n_tokens == 0 and out[1].n_bigrams == 0
    assert out[2].top_bigram == "" and out[2].top_unigram_cnt == 1
    assert out[3].top_bigram == "x x" and out[3].top_bigram_cnt == 5
    assert out[3].top_unigram_cnt == 6


def test_repetition_dup_line_fraction(spark):
    docs = spark.createDataFrame(
        [(1, "same line\nsame line\nother\n\n"),
         (2, "single line only")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in guard.repetition_stats(docs).collect()}
    # 3 non-empty lines, 2 distinct -> 1/3 duplicated
    assert out[1].dup_line_frac == pytest.approx(0.3333, abs=1e-4)
    assert out[2].dup_line_frac == 0.0


def test_repetition_no_per_row_quadratic_scan(spark):
    """The gram counting must go through explode+groupBy (linear in
    tokens), not an array self-scan — pin the aggregate in the plan."""
    docs = _docs(spark, [(1, "a b a b")])
    plan = guard.repetition_stats(docs)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Generate explode" in plan  # explode path, not transform(filter)


# ---------------------------------------------------------------------------
# property tests (hypothesis): pure-python references for the guard family
# ---------------------------------------------------------------------------

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["alpha", "beta", "gamma", "delta", "x9", "long", "word", "the"]


def _py_tokens(s):
    return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=1, max_size=12),
    st.integers(min_value=2, max_value=4))
def test_decontaminate_matches_python_reference(spark, docs_texts, n):
    """Spark contamination flags equal a brute-force python n-gram
    intersection for arbitrary small corpora (benchmark = first doc)."""
    rows = [(i, t) for i, t in enumerate(docs_texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.filter(F.col("doc_id") == 0)
    corpus = df.filter(F.col("doc_id") > 0)

    def grams(text):
        toks = _py_tokens(text)
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    bench_g = grams(rows[0][1])
    got = {r.doc_id: r for r in
           guard.decontaminate(corpus, bench, n=n).collect()}
    for doc_id, text in rows[1:]:
        g = grams(text)
        hit = len(g & bench_g)
        assert got[doc_id].n_hit_grams == hit, (doc_id, text)
        assert got[doc_id].n_grams == len(g)
        assert got[doc_id].contaminated == (hit > 0)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=20).map(" ".join),
    min_size=1, max_size=10))
def test_repetition_matches_python_reference(spark, docs_texts):
    rows = [(i, t) for i, t in enumerate(docs_texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in guard.repetition_stats(df).collect()}
    for doc_id, text in rows:
        toks = _py_tokens(text)
        bigs = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_bigrams == max(len(toks) - 1, 0)
        if toks:
            assert r.top_unigram_cnt == max(toks.count(t) for t in set(toks))
        else:
            assert r.top_unigram_cnt == 0
        if bigs:
            best = max(sorted(set(bigs)), key=lambda g: (bigs.count(g), ),
                       default="")
            # tie-break: max count, then smallest gram
            cnt = max(bigs.count(g) for g in set(bigs))
            cands = sorted(g for g in set(bigs) if bigs.count(g) == cnt)
            assert r.top_bigram == cands[0] and r.top_bigram_cnt == cnt
        else:
            assert r.top_bigram == "" and r.top_bigram_cnt == 0


def test_decontaminate_empty_benchmark_flags_nothing(spark):
    bench = _docs(spark, []) if False else _docs(
        spark, [(100, "")])  # benchmark doc with no grams
    corpus = _docs(spark, [(1, "a b c d e f")])
    out = guard.decontaminate(corpus, bench, n=3).collect()
    assert len(out) == 1 and not out[0].contaminated


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_decontaminate_flags_near_and_exact(spark):
    # benchmark vector [1,0,0]; corpus has an exact copy (cos 1.0), a
    # near-paraphrase direction (cos ~0.98), and an orthogonal doc
    import math
    near = [math.cos(0.2), math.sin(0.2), 0.0]
    corpus = _vecs(spark, [(1, [1.0, 0.0, 0.0]),
                           (2, near),
                           (3, [0.0, 0.0, 1.0])])
    bench = _vecs(spark, [(100, [1.0, 0.0, 0.0])])
    got = {r.vec_id: r for r in
           guard.semantic_decontaminate(corpus, bench, threshold=0.95).collect()}
    assert got[1].contaminated and abs(got[1].bench_cosine - 1.0) < 1e-9
    assert got[2].contaminated and abs(got[2].bench_cosine - math.cos(0.2)) < 1e-6
    assert not got[3].contaminated and abs(got[3].bench_cosine) < 1e-9


def test_semantic_decontaminate_max_over_benchmark(spark):
    # max cosine across SEVERAL benchmark vectors, not just the first
    corpus = _vecs(spark, [(1, [0.0, 1.0])])
    bench = _vecs(spark, [(100, [1.0, 0.0]), (101, [0.0, 2.0])])
    r = guard.semantic_decontaminate(corpus, bench, threshold=0.95).collect()[0]
    assert r.contaminated and abs(r.bench_cosine - 1.0) < 1e-9


def test_semantic_decontaminate_empty_benchmark(spark):
    corpus = _vecs(spark, [(1, [1.0, 0.0])])
    r = guard.semantic_decontaminate(
        corpus, _vecs(spark, []), threshold=0.95).collect()[0]
    assert r.bench_cosine == -1.0 and not r.contaminated


def test_semantic_decontaminate_zero_norm_vectors(spark):
    # zero vectors on either side must not divide by zero; a zero corpus
    # vector has cosine 0 to everything
    corpus = _vecs(spark, [(1, [0.0, 0.0])])
    bench = _vecs(spark, [(100, [1.0, 0.0]), (101, [0.0, 0.0])])
    r = guard.semantic_decontaminate(corpus, bench, threshold=0.95).collect()[0]
    assert abs(r.bench_cosine) < 1e-9 and not r.contaminated


def test_semantic_decontaminate_rejects_corpus_sized_benchmark(spark):
    import pytest as _pytest
    corpus = _vecs(spark, [(1, [1.0])])
    bench = _vecs(spark, [(i, [1.0]) for i in range(5)])
    with _pytest.raises(ValueError, match="max_benchmark"):
        guard.semantic_decontaminate(corpus, bench, max_benchmark=3)


def _docs(spark, rows):
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    return spark.createDataFrame(rows, schema)


def test_boilerplate_scrub_removes_all_copies_keeps_unique(spark):
    docs = _docs(spark, [
        (1, "unique alpha\nsubscribe now\nunique beta"),
        (2, "subscribe now\nother text"),
        (3, "lone document"),
    ])
    got = {r.doc_id: r for r in guard.boilerplate_scrub(docs).collect()}
    # 'subscribe now' occurs in two docs -> every copy removed
    assert got[1].clean_text == "unique alpha\nunique beta"
    assert got[1].n_lines == 3 and got[1].n_removed == 1
    assert got[2].clean_text == "other text"
    assert got[3].clean_text == "lone document" and got[3].n_removed == 0


def test_boilerplate_scrub_intra_doc_repeat_counts_occurrences(spark):
    # the threshold is on total OCCURRENCES, not distinct docs: a line
    # repeated twice inside one doc is corpus-boilerplate too
    docs = _docs(spark, [(1, "echo line\nmiddle\necho line")])
    r = guard.boilerplate_scrub(docs).collect()[0]
    assert r.clean_text == "middle" and r.n_removed == 2


def test_boilerplate_scrub_all_boiler_doc_and_blank_lines(spark):
    docs = _docs(spark, [
        (1, "same\n\n  \nsame"),   # blanks dropped, both copies removed
        (2, ""),                    # no non-blank lines at all
    ])
    got = {r.doc_id: r for r in guard.boilerplate_scrub(docs).collect()}
    assert got[1].clean_text == "" and got[1].n_lines == 2
    assert got[1].n_removed == 2
    assert got[2].clean_text == "" and got[2].n_lines == 0


def test_boilerplate_scrub_max_df_threshold(spark):
    # max_df=2 tolerates a line appearing twice; the third strike kills it
    docs = _docs(spark, [
        (1, "twice\nkeep1"), (2, "twice\nkeep2"),
        (3, "thrice\na"), (4, "thrice\nb"), (5, "thrice\nc"),
    ])
    got = {r.doc_id: r.clean_text
           for r in guard.boilerplate_scrub(docs, max_df=2).collect()}
    assert got[1] == "twice\nkeep1" and got[2] == "twice\nkeep2"
    assert got[3] == "a" and got[4] == "b" and got[5] == "c"


def test_boilerplate_scrub_preserves_line_order(spark):
    docs = _docs(spark, [
        (1, "z last first\nshared\na then this"),
        (2, "shared"),
    ])
    r = {x.doc_id: x for x in guard.boilerplate_scrub(docs).collect()}
    # order is positional, not lexicographic
    assert r[1].clean_text == "z last first\na then this"


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.lists(
        st.sampled_from(["shared one", "shared two", "uniq", "", "  "]),
        min_size=0, max_size=6).map("\n".join),
    min_size=1, max_size=8),
    st.integers(min_value=1, max_value=3))
def test_boilerplate_matches_python_reference(spark, docs_texts, max_df):
    """Spark line-dedup equals a brute-force python reference for
    arbitrary small corpora: global occurrence counts over non-blank
    lines, all-occurrence removal past max_df, order-preserving
    reassembly.  ('uniq' repeats ACROSS generated docs too, so the
    reference must count globally, not per-doc.)"""
    rows = [(i, t) for i, t in enumerate(docs_texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from collections import Counter
    counts = Counter(ln for _, t in rows for ln in t.split("\n")
                     if ln.strip())
    got = {r.doc_id: r for r in
           guard.boilerplate_scrub(df, max_df=max_df).collect()}
    for doc_id, t in rows:
        lines = [ln for ln in t.split("\n") if ln.strip()]
        kept = [ln for ln in lines if counts[ln] <= max_df]
        r = got[doc_id]
        assert r.clean_text == "\n".join(kept), (doc_id, t)
        assert r.n_lines == len(lines)
        assert r.n_removed == len(lines) - len(kept)


# --- repeated_spans (late r8): cross-document repeated passages -------------

def test_repeated_spans_merges_maximal_runs(spark):
    from cloudbrush_spark.operators.guard import repeated_spans
    shared = "alpha bravo charlie delta echo"          # 5 tokens, n=3 -> 3 grams
    docs = spark.createDataFrame([
        # doc 1: shared passage at tokens 3-7, unique elsewhere
        (1, "unique one two " + shared + " tail1a tail1b"),
        # doc 2: same passage at tokens 1-5
        (2, shared + " something completely different here"),
        # doc 3: no repeated content
        (3, "totally fresh words nobody else ever wrote down at all"),
    ], "doc_id long, text string")
    got = {(r.doc_id): (r.span_start, r.span_end, r.n_grams)
           for r in repeated_spans(docs, n=3, min_df=2).collect()}
    # three consecutive shared 3-grams merge into ONE maximal span
    assert got[1] == (4, 8, 3)   # tokens 4..8 (1-based)
    assert got[2] == (1, 5, 3)
    assert 3 not in got          # unique doc emits nothing


def test_repeated_spans_gap_splits_runs(spark):
    from cloudbrush_spark.operators.guard import repeated_spans
    s1, s2 = "aa bb cc", "xx yy zz"                    # n=3: one gram each
    docs = spark.createDataFrame([
        (1, s1 + " unique middle words go here " + s2),
        (2, s1 + " other filler " + s2),
    ], "doc_id long, text string")
    out = repeated_spans(docs, n=3, min_df=2)
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.n_grams))
    # two DISJOINT shared grams -> two spans per doc, not one merged
    assert sorted(per_doc[1]) == [(1, 3, 1), (9, 11, 1)]
    assert sorted(per_doc[2]) == [(1, 3, 1), (6, 8, 1)]


def test_repeated_spans_rows_of_a_shared_passage(spark):
    """The hashed df prefilter keeps every gram of the shared passage:
    tokens 2-7 of each carrier (its four shared 3-grams) come out as one
    span, and the unrepeated document has none."""
    from cloudbrush_spark.operators.guard import repeated_spans
    shared = "one two three four five six"
    docs = spark.createDataFrame(
        [(i, f"head{i} " + shared + f" tail{i}") for i in range(6)]
        + [(9, "entirely unrepeated content words here")],
        "doc_id long, text string")
    got = sorted(map(tuple, repeated_spans(docs, n=3).collect()))
    assert got == [(i, 2, 7, 4) for i in range(6)]


def test_span_scrub_removes_shared_passage_byte_faithfully(spark):
    """span_scrub drops the repeated passage from ALL carriers on the
    RAW whitespace token stream: surviving tokens keep exact bytes
    (casing, punctuation), untouched docs come back byte-identical."""
    from cloudbrush_spark.operators.guard import span_scrub
    planted = "Shared, LICENSE text! " + " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame([
        (1, f"Head-One unique. {planted} Tail-One ok"),
        (2, f"Other start; {planted} different End!"),
        (3, "Nothing repeated here at all, honest."),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in span_scrub(docs, n=13, min_df=2).collect()}
    assert out[1].clean_text == "Head-One unique. Tail-One ok"
    assert out[2].clean_text == "Other start; different End!"
    # untouched doc is byte-identical (no whitespace re-normalization)
    assert out[3].clean_text == "Nothing repeated here at all, honest."
    assert out[3].spans_removed == 0 and out[3].tokens_removed == 0
    assert out[1].spans_removed == 1 and out[1].tokens_removed == 15
    # whitespace tokenization => punctuation-sensitive: "LICENSE text!"
    # with different punctuation would NOT have matched — pinned by the
    # surviving punctuation above


def test_span_scrub_is_whitespace_token_exact(spark):
    """Positions index WHITESPACE tokens of the original text (not the
    normalized tokens the audit uses): a case-variant copy of the
    passage is NOT byte-verbatim and must survive."""
    from cloudbrush_spark.operators.guard import span_scrub
    p = " ".join(f"tok{i}" for i in range(14))
    docs = spark.createDataFrame([
        (1, f"a {p} b"),
        (2, f"c {p} d"),
        (3, f"e {p.upper()} f"),      # case-variant: not verbatim
    ], "doc_id long, text string")
    out = {r.doc_id: r.clean_text
           for r in span_scrub(docs, n=13, min_df=2).collect()}
    assert out[1] == "a b" and out[2] == "c d"
    assert out[3] == f"e {p.upper()} f"


def test_span_scrub_empty_and_one_row_per_input(spark):
    from cloudbrush_spark.operators.guard import span_scrub
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "solo words only")],
        "doc_id long, text string")
    rows = span_scrub(docs).collect()
    assert len(rows) == 3
    assert all(r.spans_removed == 0 for r in rows)
