"""Cross-corpus near-dedup (dedup.cross_corpus_near_dups): the
"dedup this crawl against the previous release" operator — cross-side
pairs only, self-join equivalence, id-space separation, star over-cap
mode."""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloudbrush_spark.operators import dedup  # noqa: E402

BASE = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_pairs_found_within_side_ignored(spark):
    # new 1 ~ ref 10 (near-dup), new 1 ~ new 2 (within-side, must NOT
    # appear), ref 10 ~ ref 11 (within-side, must NOT appear)
    new = _df(spark, [(1, BASE + " newtail"),
                      (2, BASE + " othertail"),
                      (3, "totally different words entirely here now")])
    ref = _df(spark, [(10, BASE + " reftail"),
                      (11, BASE + " refother"),
                      (12, "unrelated reference document body text")])
    got = dedup.cross_corpus_near_dups(new, ref).collect()
    pairs = {(r.new_id, r.ref_id) for r in got}
    assert (1, 10) in pairs and (2, 10) in pairs
    assert all(n in (1, 2) and r in (10, 11) for n, r in pairs)
    for r in got:
        assert 0.5 <= r.jaccard <= 1.0


def test_id_spaces_are_independent(spark):
    # the SAME numeric id on both sides must not alias: new 7 matches
    # ref 7 only because the TEXT matches
    new = _df(spark, [(7, BASE)])
    ref = _df(spark, [(7, BASE), (8, "completely different body")])
    got = {(r.new_id, r.ref_id) for r in
           dedup.cross_corpus_near_dups(new, ref).collect()}
    assert got == {(7, 7)}


def test_equals_concatenated_self_join_cross_slice(spark):
    """With disjoint global ids and no bucket overflow, the cross
    operator must equal the cross-side slice of minhash_dedup_pairs over
    the concatenated corpus — same family, same banding, same verify."""
    docs = [(i, BASE + f" variant {i % 3}") for i in range(12)] + \
           [(i, f"unique words only here {i} nothing shared") for i in
            range(12, 16)]
    new = _df(spark, [(i, t) for i, t in docs if i % 2 == 0])
    ref = _df(spark, [(i + 1000, t) for i, t in docs if i % 2 == 1])
    both = new.unionByName(ref)
    self_pairs = {
        (min(r.a, r.b), max(r.a, r.b)): round(r.jaccard, 6)
        for r in dedup.minhash_dedup_pairs(both).collect()
        if (r.a < 1000) != (r.b < 1000)}
    cross = {
        (min(r.new_id, r.ref_id), max(r.new_id, r.ref_id)):
            round(r.jaccard, 6)
        for r in dedup.cross_corpus_near_dups(new, ref).collect()}
    assert cross == self_pairs and cross


def test_star_overcap_pairs_new_members_with_min_ref(spark, monkeypatch):
    # 6 identical docs per side with MAX_BUCKET=4: every bucket
    # overflows; star mode must pair each NEW member with the min REF
    # member, and drop mode must return nothing
    monkeypatch.setattr(dedup, "MAX_BUCKET", 4)
    new = _df(spark, [(i, BASE) for i in range(6)])
    ref = _df(spark, [(100 + i, BASE) for i in range(6)])
    dropped = dedup.cross_corpus_near_dups(new, ref).collect()
    assert dropped == []
    star = dedup.cross_corpus_near_dups(new, ref, overcap="star").collect()
    got = {(r.new_id, r.ref_id) for r in star}
    assert got == {(i, 100) for i in range(6)}
    assert all(r.jaccard == 1.0 for r in star)


def test_no_matches_empty_result(spark):
    new = _df(spark, [(1, "some words in the new corpus body")])
    ref = _df(spark, [(2, "entirely different reference material")])
    assert dedup.cross_corpus_near_dups(new, ref).collect() == []


def test_rejects_bad_overcap(spark):
    new = _df(spark, [(1, BASE)])
    with pytest.raises(ValueError, match="overcap"):
        dedup.cross_corpus_near_dups(new, new, overcap="keep")


def _near_dups(spark):
    """Self and cross near-dup rows, jaccard rounded, over a seeded corpus
    of small-vocabulary texts (shingles repeat inside a document) and
    their one-token edits."""
    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(6)]
    rows = []
    for i in range(40):
        toks = [rng.choice(vocab) for _ in range(14)]
        rows.append((i, " ".join(toks)))
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
        rows.append((100 + i, " ".join(toks)))
    docs = _df(spark, rows)
    self_rows = {(r.a, r.b, round(r.jaccard, 9))
                 for r in dedup.minhash_dedup_pairs(docs).collect()}
    cross_rows = {(r.new_id, r.ref_id, round(r.jaccard, 9))
                  for r in dedup.cross_corpus_near_dups(
                      docs.filter("doc_id < 100"),
                      docs.filter("doc_id >= 100")).collect()}
    return self_rows, cross_rows


@pytest.mark.parametrize("patch", ["pass_through", "unhinted"])
def test_verify_shapes_agree(spark, monkeypatch, patch):
    """The verify's large-input shapes give the rows of its default one:
    ``pass_through`` (no candidate filter, no broadcast hint) and
    ``unhinted`` (candidate filter without the broadcast hints)."""
    want = _near_dups(spark)
    assert all(want) and any(j < 1.0 for _, _, j in want[0])
    if patch == "pass_through":
        monkeypatch.setattr(dedup, "VERIFY_FILTER_MAX", 0)
    monkeypatch.setattr(dedup, "_bcast_rows_bound", lambda dtype: 0)
    assert _near_dups(spark) == want
