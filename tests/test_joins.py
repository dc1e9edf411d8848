"""asof_join / range_join, salted_equijoin and merge_upsert unit tests."""

from pyspark.sql import functions as F

from cloudbrush_spark.operators import joins


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_backward_picks_latest_at_or_before(spark):
    left = _df(spark, [("u", 100), ("u", 205), ("u", 50)], "k string, lts long")
    right = _df(spark, [("u", 90), ("u", 200), ("u", 300)], "k string, rts long")
    out = {r.lts: r.asof_ts for r in
           joins.asof_join(left, right, "k", "lts", "rts").collect()}
    assert out == {100: 90, 205: 200, 50: None}


def test_asof_equal_ts_matches(spark):
    left = _df(spark, [("u", 100)], "k string, lts long")
    right = _df(spark, [("u", 100)], "k string, rts long")
    out = joins.asof_join(left, right, "k", "lts", "rts").collect()[0]
    assert out.asof_ts == 100   # <= semantics


def test_asof_forward_direction(spark):
    left = _df(spark, [("u", 100), ("u", 301)], "k string, lts long")
    right = _df(spark, [("u", 200), ("u", 300)], "k string, rts long")
    out = {r.lts: r.asof_ts for r in
           joins.asof_join(left, right, "k", "lts", "rts",
                           direction="forward").collect()}
    assert out == {100: 200, 301: None}


def test_asof_carries_right_columns(spark):
    left = _df(spark, [("u", 100)], "k string, lts long")
    right = _df(spark, [("u", 90, "hello")], "k string, rts long, payload string")
    out = joins.asof_join(left, right, "k", "lts", "rts",
                          right_cols=["payload"]).collect()[0]
    assert out.payload == "hello" and out.asof_ts == 90


def test_range_join_bounds(spark):
    left = _df(spark, [("u", 1000)], "k string, lts long")
    right = _df(spark, [("u", 999), ("u", 1000), ("u", 1400),
                        ("u", 1501), ("v", 1100)], "k string, rts long")
    out = sorted(r.matched_ts for r in
                 joins.range_join(left, right, "k", "lts", "rts",
                                  lower=0, upper=500).collect())
    assert out == [1000, 1400]   # 999 below range, 1501 above, v wrong key


def test_range_join_bucket_smaller_than_span(spark):
    left = _df(spark, [("u", 0)], "k string, lts long")
    right = _df(spark, [("u", t) for t in range(0, 1001, 100)],
                "k string, rts long")
    out = sorted(r.matched_ts for r in
                 joins.range_join(left, right, "k", "lts", "rts",
                                  lower=0, upper=1000, bucket=256).collect())
    assert out == list(range(0, 1001, 100))


# --- salted_equijoin (late r8): skew-resistant shuffle equi-join -----------

def _skewed_left(spark):
    # key 1 carries 90% of rows (the hot key), keys 2..5 one row each
    rows = [(1, i) for i in range(36)] + [(k, 100 + k) for k in range(2, 6)]
    return spark.createDataFrame(rows, "k long, payload long")


def _dim_right(spark):
    return spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (7, "unmatched")], "k long, name string")


def test_salted_join_equals_plain_join(spark):
    left, right = _skewed_left(spark), _dim_right(spark)
    for how in ("inner", "left"):
        got = sorted(map(tuple, joins.salted_equijoin(
            left, right, "k", salt=4, how=how).collect()))
        want = sorted(map(tuple, left.join(right, "k", how).collect()))
        assert got == want, how


def test_salted_join_spreads_hot_key_and_partitions_on_salt(spark):
    left, right = _skewed_left(spark), _dim_right(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = joins.salted_equijoin(left, right, "k", salt=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the exchange must hash on (k, __salt), not k alone
        assert "__salt" in plan and "hashpartitioning" in plan
        # the hot key's 36 distinct payload rows occupy several salts
        n_salts = (left.withColumn(
            "__salt", F.pmod(F.xxhash64("k", "payload"), F.lit(4)))
            .filter(F.col("k") == 1).select("__salt").distinct().count())
        assert n_salts > 1
        assert out.count() == 36 + 2  # hot matches + keys 2,3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_rejects_right_outer_and_bad_salt(spark):
    left, right = _skewed_left(spark), _dim_right(spark)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        joins.salted_equijoin(left, right, "k", salt=0)
    with _pytest.raises(ValueError):
        joins.salted_equijoin(left, right, "k", how="right")
    with _pytest.raises(ValueError):
        joins.salted_equijoin(left.withColumn("__salt", F.lit(1)), right, "k")


def test_salted_join_property_random_frames(spark):
    """Hypothesis sweep: for arbitrary key multisets (hot keys, missing
    keys, null keys, duplicate right rows) the salted join's result
    multiset equals the plain join's, inner and left."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    keys = st.lists(st.one_of(st.integers(0, 5), st.none()),
                    min_size=1, max_size=25)

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(lk=keys, rk=keys)
    def check(lk, rk):
        left = spark.createDataFrame(
            [(k, i) for i, k in enumerate(lk)], "k long, lv long")
        right = spark.createDataFrame(
            [(k, 100 + i) for i, k in enumerate(rk)], "k long, rv long")
        for how in ("inner", "left"):
            got = Counter(map(tuple, joins.salted_equijoin(
                left, right, "k", salt=3, how=how).collect()))
            want = Counter(map(tuple, left.join(right, "k", how).collect()))
            assert got == want, how

    check()


def test_merge_upsert_four_actions_and_version_bump(spark):
    from cloudbrush_spark.operators.joins import merge_upsert
    base = spark.createDataFrame(
        [(1, "same", 3), (2, "old", 1), (3, "gone", 2)],
        "doc_id long, text string, version long")
    updates = spark.createDataFrame(
        [(1, "same"), (2, "new"), (4, "fresh")], "doc_id long, text string")
    got = {r.doc_id: (r.action, r.version)
           for r in merge_upsert(base, updates, version_col="version",
                                 delete_missing=True).collect()}
    assert got == {1: ("keep", 3), 2: ("update", 2),
                   3: ("delete", 2), 4: ("insert", 1)}
    # partial-view mode: absent keys are keep, not delete
    got2 = {r.doc_id: r.action
            for r in merge_upsert(base, updates, version_col="version").collect()}
    assert got2[3] == "keep"


def test_merge_upsert_digest_is_null_safe_and_boundary_pinned(spark):
    from cloudbrush_spark.operators.joins import merge_upsert
    # NULL vs empty string must differ; ("x","") vs ("","x") must differ
    base = spark.createDataFrame(
        [(1, None, "z"), (2, "x", ""), (3, "a", "b")],
        "doc_id long, a string, b string")
    updates = spark.createDataFrame(
        [(1, "", "z"), (2, "", "x"), (3, "a", "b")],
        "doc_id long, a string, b string")
    got = {r.doc_id: r.action
           for r in merge_upsert(base, updates, cmp_cols=("a", "b")).collect()}
    assert got == {1: "update", 2: "update", 3: "keep"}


def test_merge_upsert_digest_immune_to_control_byte_values(spark):
    """Values CONTAINING separator-like control bytes must not shift
    column boundaries: ('a\\x01','b') vs ('a','\\x01b') are different
    rows, and a literal '\\x00' value is not NULL.  Crawled text can
    contain any byte."""
    from cloudbrush_spark.operators.joins import merge_upsert
    base = spark.createDataFrame(
        [(1, "a\x01", "b"), (2, "\x00", "z"), (3, "s", "t")],
        "doc_id long, a string, b string")
    updates = spark.createDataFrame(
        [(1, "a", "\x01b"), (2, None, "z"), (3, "s", "t")],
        "doc_id long, a string, b string")
    got = {r.doc_id: r.action
           for r in merge_upsert(base, updates, cmp_cols=("a", "b")).collect()}
    assert got == {1: "update", 2: "update", 3: "keep"}


def test_bag_set_ops_multiplicity_and_range_frame_peers(spark):
    """EXCEPT ALL keeps max(l-r, 0) copies per key (bag semantics, not
    the DISTINCT legs' set semantics); a RANGE frame gives PEER rows
    (same order day) the identical trailing total, where a ROWS frame
    would order-dependently split them."""
    from pyspark.sql import Window
    import pyspark.sql.functions as F
    left = spark.createDataFrame([(1,)] * 5 + [(2,)] * 2, "k long")
    right = spark.createDataFrame([(1,)] * 2 + [(2,)] * 3, "k long")
    xall = {r.k: r.n for r in left.exceptAll(right).groupBy("k")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    iall = {r.k: r.n for r in left.intersectAll(right).groupBy("k")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert xall == {1: 3} and iall == {1: 2, 2: 2}

    rows = [(1, 10, 0, 100), (1, 11, 20, 50), (1, 12, 20, 70),
            (1, 13, 60, 10)]
    df = spark.createDataFrame(rows, "c long, o long, day long, cents long")
    w = Window.partitionBy("c").orderBy("day").rangeBetween(-30, 0)
    got = {r.o: r.t for r in
           df.select("o", F.sum("cents").over(w).alias("t")).collect()}
    # the two day-20 peers both see 100+50+70; day-60 sees only itself
    assert got == {10: 100, 11: 220, 12: 220, 13: 10}


def test_merge_upsert_digest_property(spark):
    """Property: merge_upsert's decisions equal a pure-python dict diff
    for ADVERSARIAL multi-column values — control bytes (\\x00, \\x01),
    separator look-alikes, boundary-shifting splits of the same
    concatenation, NULLs and empty strings — across random snapshots."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from cloudbrush_spark.operators.joins import merge_upsert

    val = st.one_of(
        st.none(),
        st.sampled_from(["", "\x00", "\x01", "a\x01", "\x01b", "a", "b",
                         "a\x01b", "-" * 32, "md5"]),
        st.text(alphabet="ab\x00\x01", max_size=4))
    row = st.tuples(st.integers(0, 6), val, val)

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(base=st.lists(row, max_size=7, unique_by=lambda r: r[0]),
           upd=st.lists(row, max_size=7, unique_by=lambda r: r[0]))
    def check(base, upd):
        bdf = spark.createDataFrame(
            base or [(99, None, None)][:0],
            "doc_id long, c1 string, c2 string")
        udf = spark.createDataFrame(
            upd or [(99, None, None)][:0],
            "doc_id long, c1 string, c2 string")
        if not base and not upd:
            return
        got = {r.doc_id: r.action for r in
               merge_upsert(bdf, udf, cmp_cols=("c1", "c2"),
                            delete_missing=True).collect()}
        bd = {k: (a, b) for k, a, b in base}
        ud = {k: (a, b) for k, a, b in upd}
        want = {}
        for k in set(bd) | set(ud):
            if k not in bd:
                want[k] = "insert"
            elif k not in ud:
                want[k] = "delete"
            elif bd[k] == ud[k]:
                want[k] = "keep"
            else:
                want[k] = "update"
        assert got == want

    check()
