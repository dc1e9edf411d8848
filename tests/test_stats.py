"""Stats operator tests: N50, size distribution (the ADVICE min-vs-max
crossing bug case), genome-target N50, top-k, and the edge cases
(empty input, null sizes, null coverage, unreached targets)."""

import pytest
from pyspark.sql import functions as F

from cloudbrush_spark.operators import stats


def _sizes(spark, xs):
    return spark.createDataFrame([(x,) for x in xs], "sz long")


def _scan(xs, target):
    """Per-item reference: (n50, n50_cnt) of sizes ``xs`` sorted descending,
    the first size whose running sum reaches ``target``/2."""
    cum = 0
    for i, s in enumerate(sorted(xs, reverse=True), 1):
        cum += s
        if 2 * cum >= target:
            return s, i
    return None, None


def test_n50_known_values(spark):
    # sizes [9,5,4,2]: total 20, desc cum 9,14 -> crossing at 5, 2 items;
    # null sizes are dropped; empty input gives null fields
    for xs, want in (([9, 5, 4, 2], (5, 2, 20)),
                     ([9, None, 5], (9, 1, 14)),
                     ([], (None, None, None)),
                     ([0, 0], (0, 1, 0))):
        row = stats.n50(_sizes(spark, xs), "sz")
        assert (row["n50"], row["n50_cnt"], row["total"]) == want, xs


def test_n50_duplicate_sizes_within_group(spark):
    # sizes [4,4,4,4]: total 16, half 8 -> 2 items of size 4
    row = stats.n50(_sizes(spark, [4, 4, 4, 4]), "sz")
    assert (row["n50"], row["n50_cnt"], row["total"]) == (4, 2, 16)


def test_n50_single_row(spark):
    row = stats.n50(_sizes(spark, [7]), "sz")
    assert (row["n50"], row["n50_cnt"], row["total"]) == (7, 1, 7)


def test_size_distribution_n50_is_crossing_size(spark):
    # the ADVICE bug case: sizes [9,5,4,2] must give n50=5 (not min-satisfying 2)
    df = _sizes(spark, [9, 5, 4, 2]).withColumn("cov", F.lit(2.0))
    out = {r.cutoff: r for r in
           stats.size_distribution(df, "sz", cov_col="cov",
                                   cutoffs=(2, 4, 10)).collect()}
    c2, c4 = out[2], out[4]
    assert (c2.cnt, c2.total, c2.n50, c2.n50_cnt) == (4, 20, 5, 2)
    assert c2.mean == pytest.approx(5.0) and c2.mean_cov == pytest.approx(2.0)
    # cutoff 4: sizes [9,5,4], total 18, half 9 -> n50=9 with 1 item
    assert (c4.cnt, c4.total, c4.n50, c4.n50_cnt) == (3, 18, 9, 1)
    # no size clears cutoff 10: no row
    assert sorted(out) == [2, 4]
    assert stats.size_distribution(df, "sz").dtypes == [
        ("cutoff", "bigint"), ("cnt", "bigint"), ("total", "bigint"),
        ("mean", "double"), ("mean_cov", "double"), ("n50", "bigint"),
        ("n50_cnt", "bigint")]
    # a null size is dropped; a null cov counts in cnt but not in mean_cov
    df = spark.createDataFrame([(9, 4.0), (5, None), (None, 8.0)],
                               "sz long, cov double")
    (row,) = stats.size_distribution(df, "sz", cov_col="cov",
                                     cutoffs=(1,)).collect()
    assert (row.cnt, row.total, row.n50, row.n50_cnt) == (2, 14, 9, 1)
    assert row.mean == pytest.approx(7.0) and row.mean_cov == pytest.approx(2.0)
    # all sizes 0, cutoff 0: the first item already reaches half of 0
    (row,) = stats.size_distribution(_sizes(spark, [0, 0]), "sz",
                                     cutoffs=(0,)).collect()
    assert (row.cnt, row.total, row.n50, row.n50_cnt) == (2, 0, 0, 1)
    # empty input: empty distribution
    assert stats.size_distribution(_sizes(spark, []), "sz").collect() == []


def test_stats_report_genome_target_n50(spark):
    df = _sizes(spark, [9, 5, 4, 2])
    # genome/2 = 15: desc cum 9,14,18 -> crossing at size 4 with 3 items;
    # 40 needs every contig; 41 is above twice the total: never reached
    for genome, want in ((30, (4, 3)), (40, (2, 4)), (41, (None, None))):
        rep = stats.stats_report(df, "sz", cov_col=None, genome_size=genome)
        row = rep["genome_n50"].collect()[0]
        assert (row.n50, row.n50_cnt, row.genome_size) == (*want, genome)
    assert rep["genome_n50"].dtypes == [
        ("n50", "bigint"), ("n50_cnt", "bigint"), ("genome_size", "bigint")]
    top = [r.sz for r in rep["top"].collect()]
    assert top == [9, 5, 4, 2]


def test_n50_matches_size_distribution_on_random_data(spark):
    import random
    rng = random.Random(7)
    cutoffs = (1, 10, 25, 40, 1000, 4000, 6000)
    for hi in (5000, 40):  # 40: hundreds of items on a few tied sizes
        xs = [rng.randint(1, hi) for _ in range(500)]
        df = _sizes(spark, xs)
        tot = sum(xs)
        a = stats.n50(df, "sz")
        assert (a["n50"], a["n50_cnt"], a["total"]) == (*_scan(xs, tot), tot)
        d = {r.cutoff: r for r in
             stats.size_distribution(df, "sz", cutoffs=cutoffs).collect()}
        for c in cutoffs:
            kept = [x for x in xs if x >= c]
            if not kept:
                assert c not in d
                continue
            r = d[c]
            assert (r.cnt, r.total, r.n50, r.n50_cnt) == (
                len(kept), sum(kept), *_scan(kept, sum(kept))), (hi, c)
        for genome in (0, tot // 3, tot * 3 // 2):
            g = stats.stats_report(df, "sz", cov_col=None, genome_size=genome,
                                   cutoffs=cutoffs)["genome_n50"].collect()[0]
            assert (g.n50, g.n50_cnt) == _scan(xs, genome), (hi, genome)
