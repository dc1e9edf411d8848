"""Deterministic sampling/split assignment."""

from pyspark.sql import functions as F

from cloudbrush_spark.operators import sampling


def test_assign_split_disjoint_stable_and_proportional(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    out = sampling.assign_split(df, "doc_id")
    counts = {r.split: r.cnt for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.9) < 0.02
    assert abs(counts["val"] / 20000 - 0.05) < 0.01
    # stability: same assignment on re-computation and under repartition
    again = sampling.assign_split(df.repartition(17), "doc_id")
    diff = (out.withColumnRenamed("split", "s1")
            .join(again.withColumnRenamed("split", "s2"), "doc_id")
            .filter(F.col("s1") != F.col("s2")).count())
    assert diff == 0


def test_deterministic_sample_fraction(spark):
    df = spark.range(0, 50000).withColumnRenamed("id", "doc_id")
    n = sampling.deterministic_sample(df, "doc_id", 0.1).count()
    assert abs(n / 50000 - 0.1) < 0.01
    # different seeds draw different (but reproducible) subsets
    a = set(r.doc_id for r in sampling.deterministic_sample(df, "doc_id", 0.1, "s1").collect())
    b = set(r.doc_id for r in sampling.deterministic_sample(df, "doc_id", 0.1, "s2").collect())
    assert a != b
    a2 = set(r.doc_id for r in sampling.deterministic_sample(df, "doc_id", 0.1, "s1").collect())
    assert a == a2


def test_mixture_resample_upsamples_deterministically(spark):
    df = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 2).cast("string")).alias("source"))
    out = sampling.mixture_resample(df, {"src0": 2.5, "src1": 0.3})
    counts = {r.source: r.cnt for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # src0: 10000 rows -> ~25000 copies; src1: ~3000 survivors, one copy
    assert abs(counts["src0"] / 10000 - 2.5) < 0.05
    assert abs(counts["src1"] / 10000 - 0.3) < 0.02
    # every src0 row appears at least twice; copy indices are 1..n
    per = {r.doc_id: r.n for r in
           out.filter("source = 'src0'").groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(per) == 10000 and set(per.values()) <= {2, 3}
    mx = out.agg(F.min("copy").alias("a"), F.max("copy").alias("b")).collect()[0]
    assert mx.a == 1 and mx.b == 3
    # reduction: w <= 1 resample == the md5-bucket filter (plus copy=1)
    a = df.filter((F.col("source") == "src1")
                  & (sampling.hash_bucket("doc_id", 1_000_000, "mixture")
                     < 300000)).select("doc_id")
    bres = sampling.mixture_resample(df, {"src1": 0.3}).select("doc_id")
    assert a.exceptAll(bres).count() == 0 and bres.exceptAll(a).count() == 0
    # determinism under repartition
    again = sampling.mixture_resample(df.repartition(11), {"src0": 2.5, "src1": 0.3})
    assert again.count() == out.count()


def test_mixture_resample_zero_and_integer_weights(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, source string")
    out = sampling.mixture_resample(df, {"a": 0.0, "b": 2.0})
    rows = sorted((r.doc_id, r.copy) for r in out.collect())
    # weight 0 drops; integer weight 2 -> exactly two copies; unlisted drops
    assert rows == [(2, 1), (2, 2)]


# --- calibrated_quality (late r8): per-domain rank calibration --------------

def test_calibrated_quality_exact_ranks_with_ties(spark):
    from cloudbrush_spark.operators.sampling import calibrated_quality
    rows = [
        (1, "web", 0.9), (2, "web", 0.7), (3, "web", 0.7), (4, "web", None),
        (5, "code", 0.5), (6, "code", 0.95),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double")
    got = {r.doc_id: (r.q_rank, r.n_src) for r in
           calibrated_quality(df, "q", buckets=4).collect()}
    # ties (0.7, 0.7) break by doc_id; NULL quality sorts last as 0.0
    assert got == {1: (1, 4), 2: (2, 4), 3: (3, 4), 4: (4, 4),
                   6: (1, 2), 5: (2, 2)}


def test_calibrated_quality_never_one_task_per_source(spark):
    """The row-level window must partition on (source, bucket), never on
    the source alone — a whole domain in one task is the scale failure
    this operator exists to avoid."""
    from cloudbrush_spark.operators.sampling import calibrated_quality
    df = spark.createDataFrame(
        [(i, "only_source", i / 100.0) for i in range(100)],
        "doc_id long, source string, q double")
    out = calibrated_quality(df, "q", buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window sort key list includes the bucket column
    assert "__src" in plan and " b#" in plan
    got = {r.doc_id: r.q_rank for r in out.collect()}
    assert got[99] == 1 and got[0] == 100  # q=0.99 best, q=0.0 worst


def test_stratified_sample_exact_n_deterministic(spark):
    """Exactly n rows per large-enough source, the WHOLE stratum when it
    is smaller than n, ranks 1..k contiguous, and the selected set is
    identical across runs and across bucket counts (the two-phase
    assembly with prefix prune is an implementation detail, never a
    semantics knob)."""
    from cloudbrush_spark.operators import sampling
    rows = [(i, f"src{i % 3}") for i in range(60)] + \
           [(1000 + i, "tiny") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.stratified_sample(df, 5, buckets=256).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.samp_rank)
    assert {s: sorted(v) for s, v in by_src.items()} == {
        "src0": [1, 2, 3, 4, 5], "src1": [1, 2, 3, 4, 5],
        "src2": [1, 2, 3, 4, 5], "tiny": [1, 2]}
    picked = {(r.doc_id, r.samp_rank) for r in out}
    again = {(r.doc_id, r.samp_rank) for r in
             sampling.stratified_sample(df, 5, buckets=256).collect()}
    one_bucket = {(r.doc_id, r.samp_rank) for r in
                  sampling.stratified_sample(df, 5, buckets=1).collect()}
    assert picked == again == one_bucket
    # python twin: the 5 smallest md5('strat|'||id) per source
    import hashlib
    def h(i):
        return int(hashlib.md5(f"strat|{i}".encode()).hexdigest()[:8], 16)
    want = set()
    srcs = {}
    for i, s in rows:
        srcs.setdefault(s, []).append(i)
    for s, ids in srcs.items():
        for rk, i in enumerate(sorted(ids, key=lambda i: (h(i), i))[:5], 1):
            want.add((i, rk))
    assert picked == want
    import pytest as _pytest
    with _pytest.raises(ValueError, match=">= 0"):
        sampling.stratified_sample(df, -1)
