"""The LSH band keys of the MinHash near-dup stage, value for value: the
(id, band, bkey) table ``dedup._band_buckets`` cuts against a pure-Python
build of the same scheme (word 3-gram shingles, 16 md5 minhashes, 4 bands
of 4 rows)."""

import hashlib
import random
import re

from cloudbrush_spark.operators import dedup


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _shingles(body: str) -> list:
    toks = [t for t in re.split(r"[^a-z0-9]+", body.lower()) if t]
    return [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]


def _band_rows(rows) -> set:
    """Each minhash is the min of md5("h|shingle"); a band key is the md5
    of its rows' "h:minhash" strings joined by "|" in the string order of
    h (so band 2 reads rows 10, 11, 8, 9)."""
    out = set()
    for doc_id, body in rows:
        sh = _shingles(body)
        if not sh:
            continue
        mins = {str(h): min(_md5(f"{h}|{s}") for s in sh) for h in range(16)}
        for band in range(4):
            hs = sorted(str(h) for h in range(4 * band, 4 * band + 4))
            out.add((doc_id, band,
                     _md5("|".join(f"{h}:{mins[h]}" for h in hs))))
    return out


def test_band_keys_match_python(spark, monkeypatch):
    rng = random.Random(17)
    vocab = ["Alpha", "beta", "gamma", "delta", "eps"]
    rows = [(i, ", ".join(rng.choice(vocab)
                          for _ in range(rng.randrange(3, 18))))
            for i in range(40)]
    rows.append((99, "two words"))
    # a 5-word vocabulary repeats shingles inside a document
    assert any(len(set(_shingles(b))) < len(_shingles(b)) for _, b in rows)

    cuts, real_cut = [], dedup.cut

    def record(df, *args, **kwargs):
        df = real_cut(df, *args, **kwargs)
        cuts.append(df)
        return df

    monkeypatch.setattr(dedup, "cut", record)
    dedup.minhash_dedup_pairs(
        spark.createDataFrame(rows, "doc_id long, text string"))
    banded = [df for df in cuts if df.columns == ["doc_id", "band", "bkey"]]
    assert len(banded) == 1
    got = {(r.doc_id, r.band, r.bkey) for r in banded[0].collect()}
    want = _band_rows(rows)
    assert len(want) == 4 * 40
    assert got == want
