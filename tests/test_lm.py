"""Bigram-LM perplexity scoring (operators/lm.py): exact count parity
and score parity vs a pure-python reference, OOV/short-doc semantics,
and the fluent-vs-gibberish separation the quality gate relies on."""

import math
import re

import pytest
from pyspark.sql import functions as F

from cloudbrush_spark.operators import lm

REF = [
    (0, "the cat sat on the mat and the dog sat on the rug"),
    (1, "the dog ran to the cat and the cat ran to the mat"),
    (2, "a cat and a dog sat on a mat near the rug"),
]


def _toks(s):
    return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]


def _py_model(rows):
    uni, big = {}, {}
    vocab = set()
    for _, s in rows:
        t = _toks(s)
        vocab.update(t)
        for a, b in zip(t, t[1:]):
            uni[a] = uni.get(a, 0) + 1
            big[(a, b)] = big.get((a, b), 0) + 1
    return uni, big, len(vocab)


def _py_score(s, uni, big, V, k=1.0):
    t = _toks(s)
    if len(t) < 2:
        return 0, math.log(k / (k * V))
    lps = [math.log((big.get((a, b), 0) + k) / (uni.get(a, 0) + k * V))
           for a, b in zip(t, t[1:])]
    return len(lps), sum(lps) / len(lps)


@pytest.fixture(scope="module")
def model(spark):
    ref = spark.createDataFrame(REF, "doc_id long, text string")
    return lm.bigram_lm(ref)


def test_bigram_counts_match_python(spark, model):
    unigrams, bigrams, V = model
    puni, pbig, pV = _py_model(REF)
    assert V == pV
    assert {(r.w1, r.c1) for r in unigrams.collect()} == set(puni.items())
    assert {((r.w1, r.w2), r.c2) for r in bigrams.collect()} == \
        set(pbig.items())


def test_lm_score_matches_python(spark, model):
    unigrams, bigrams, V = model
    puni, pbig, _ = _py_model(REF)
    docs = spark.createDataFrame(
        [(10, "the cat sat on the mat"),          # fluent, in-model
         (11, "zzz qqq xxx vvv kkk www"),          # gibberish, all OOV
         (12, "the dog ran to the rug"),           # fluent, partial
         (13, "single"),                           # <2 tokens
         (14, "")],                                # empty
        "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob)
           for r in lm.lm_score(docs, unigrams, bigrams, V).collect()}
    assert set(got) == {10, 11, 12, 13, 14}
    for i, s in [(10, "the cat sat on the mat"),
                 (11, "zzz qqq xxx vvv kkk www"),
                 (12, "the dog ran to the rug")]:
        n, lp = _py_score(s, puni, pbig, V)
        assert got[i][0] == n
        assert abs(got[i][1] - lp) < 1e-9
    # short/empty docs: zero evidence, floor score
    floor = math.log(1.0 / V)
    for i in (13, 14):
        assert got[i][0] == 0 and abs(got[i][1] - floor) < 1e-9
    # the separation the gate relies on: fluent >> gibberish
    assert got[10][1] > got[11][1] + 0.5
    assert got[12][1] > got[11][1] + 0.5


def test_lm_score_one_row_per_doc(spark, model):
    unigrams, bigrams, V = model
    docs = spark.createDataFrame(
        [(i, "the cat sat" if i % 2 else "") for i in range(20)],
        "doc_id long, text string")
    out = lm.lm_score(docs, unigrams, bigrams, V)
    assert out.count() == 20
    assert out.select("doc_id").distinct().count() == 20
