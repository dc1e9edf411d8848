"""BM25 ranked retrieval (operators/textsearch.py): exactness vs a pure-
python reference, determinism, candidate semantics, and the plan shape
(no corpus-wide posting explode, partial top-k not a global sort)."""

import math
import re

import pytest
from pyspark.sql import functions as F

from cloudbrush_spark.operators.textsearch import bm25_topk
from tests import plan_checks

DOCS = [
    (0, "spark window merge spark spark"),
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "spark joins and window functions in spark"),
    (3, "merge sort and hash join"),
    (4, "completely unrelated text about gardening and soil"),
    (5, "window window window"),
    (6, "spark"),
]


def _py_bm25(rows, terms, k1=1.2, b=0.75):
    toks = {i: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
            for i, s in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if not tf or not df[t]:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            out[i] = s
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_matches_python_reference(spark, docs):
    terms = ["spark", "window"]
    got = bm25_topk(docs, terms, k=10).collect()
    want = _py_bm25(DOCS, terms)
    assert [(r.doc_id, r.rank) for r in got] == \
        [(i, rk + 1) for rk, (i, _) in enumerate(want)]
    for r, (_, s) in zip(sorted(got, key=lambda r: r.rank), want):
        assert abs(r.score - s) < 1e-9
    # doc 4 (no query term) is not a candidate
    assert 4 not in {r.doc_id for r in got}


def test_bm25_k_cut_and_determinism(spark, docs):
    a = bm25_topk(docs, ["spark"], k=2).collect()
    b2 = bm25_topk(docs, ["spark"], k=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b2))
    assert len(a) == 2 and {r.rank for r in a} == {1, 2}
    # k larger than the candidate set returns exactly the candidates
    allr = bm25_topk(docs, ["gardening"], k=50).collect()
    assert [r.doc_id for r in allr] == [4]


def test_bm25_empty_terms_raises(spark, docs):
    with pytest.raises(ValueError):
        bm25_topk(docs, [])


def test_bm25_plan_no_posting_explode_no_global_sort(spark, docs):
    """The explode runs on the FILTERED hit array (query terms only),
    never the corpus token stream, and the top-k is
    TakeOrderedAndProject (partial per-partition top-k), not a global
    Sort feeding the limit."""
    q = bm25_topk(docs, ["spark", "window"], k=3)
    plan = plan_checks.explain_str(q)
    assert "TakeOrderedAndProject" in plan
    # every generate (explode) input is the filtered hits column, never
    # the full token array
    gen = [ln for ln in plan.splitlines()
           if "Arguments: explode(" in ln]
    assert gen and all("explode(hits" in ln for ln in gen), gen
