"""Plan-shape tests: the scale guarantees (pushdown, pruning, broadcast)
pinned as assertions via tests/plan_checks.py."""

import os

import pytest
from pyspark.sql import functions as F

from tests import plan_checks

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def part(spark):
    return spark.read.parquet(os.path.join(SF, "part.parquet"))


def test_filter_pushdown_reaches_scan(part):
    q = part.filter(F.col("p_size") > 40).select("p_partkey")
    pushed = plan_checks.pushed_filters(q)
    assert pushed and "p_size" in pushed[0]


def test_column_pruning_reaches_scan(part):
    q = part.select("p_partkey", "p_size")
    schemas = plan_checks.read_schema(q)
    assert schemas and "p_name" not in schemas[0] and "p_partkey" in schemas[0]


def test_small_dim_join_broadcasts(spark, part):
    orders = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(SF, "customer.parquet"))
    q = orders.join(
        F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
        orders.o_custkey == customer.c_custkey)
    assert plan_checks.has_broadcast_join(q)


def test_serial_contract_broadcasts_the_mapping(spark):
    """The G7/G8 serial finish re-points edges through a driver-built
    mapping of at most a few thousand rows: both mapping joins broadcast
    by hint, not by size estimate."""
    from cloudbrush_spark.operators import contraction, graph
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nodes = spark.createDataFrame(
            [("a", "ACGTAC", 1.0), ("b", "TACGGA", 2.0), ("x", "TTTTT", 1.0)],
            "node_id string, seq string, cov double")
        edges = spark.createDataFrame(
            [("a", "ff", "b", 3), ("b", "rr", "a", 3)],
            "src string, et string, dst string, ov int")
        links = graph.compressible(nodes, edges).collect()
        _, out = contraction._serial_contract(nodes, edges, links)
        plan = plan_checks.explain_str(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("BroadcastHashJoin LeftOuter") == 2, plan


def test_overlap_posting_join_never_broadcasts_postings(spark):
    """Regression guard for the 5 GiB broadcast: Catalyst's Generate
    (explode) size estimate is its CHILD's size, so without the explicit
    shuffle_hash pin the planner broadcast the ~100x-exploded posting
    table.  The J1 candidate join must stay a shuffled join; the only
    BroadcastExchanges allowed in match_prefix are the tiny hot-key /
    blacklist anti-join sides."""
    from cloudbrush_spark import oracle_fixtures as gfx
    from cloudbrush_spark.operators import overlap

    reads = gfx.overlap_reads(spark, SF)
    plan = plan_checks.explain_str(overlap.match_prefix(reads, 24))
    assert "ShuffledHashJoin" in plan
    # every inner join in the candidate path is the posting join — none
    # of them may be broadcast (the LeftAnti joins against the tiny
    # hot-key set are the only broadcasts allowed)
    assert "BroadcastHashJoin Inner" not in plan, "posting join became broadcast"


def test_tpch_q6_filters_reach_parquet_scan(spark):
    """The Q6-shaped narrow-predicate aggregate is THE pushdown showcase:
    date/quantity predicates must reach the parquet scan as PushedFilters
    and the scan schema must carry only the referenced columns."""
    import __spark_entry__ as entrymod
    q = entrymod.q_tpch_q6(spark, SF)
    pushed = " ".join(plan_checks.pushed_filters(q))
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    schemas = plan_checks.read_schema(q)
    assert schemas and "l_comment" not in schemas[0]


def test_pii_scrub_is_shuffle_free(spark):
    """PII scrub must stay a pure narrow projection — zero exchanges."""
    from cloudbrush_spark.operators import guard
    docs = spark.createDataFrame([(1, "a@b.co x")], "doc_id long, text string")
    assert plan_checks.shuffle_count(guard.pii_scrub(docs)) == 0


def test_semantic_decontaminate_is_shuffle_free(spark):
    """Semantic decontamination must be one narrow Arrow pass — the
    benchmark matrix travels as a broadcast VARIABLE (not a join), so the
    plan has zero exchanges and zero joins of any kind."""
    from cloudbrush_spark.operators import guard
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    bench = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<float>")
    q = guard.semantic_decontaminate(vecs, bench)
    assert plan_checks.shuffle_count(q) == 0
    plan = plan_checks.explain_str(q)
    assert "Join" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_decontaminate_corpus_side_has_single_aggregation_shuffle(spark):
    """The corpus side of decontamination joins the benchmark grams by
    BROADCAST (never a shuffled join) — the only exchanges are the per-doc
    hit aggregate (plus the final left join back to the doc universe)."""
    from cloudbrush_spark.operators import guard
    docs = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(4)], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    q = guard.decontaminate(docs, bench, n=5)
    assert plan_checks.has_broadcast_join(q)
    plan = plan_checks.explain_str(q)
    # no sort-merge join anywhere on the gram-matching path
    assert "SortMergeJoin" not in plan or "gh" not in plan.split("SortMergeJoin")[1][:200]


def test_mixture_resample_is_narrow(spark):
    """Mixture construction (filter + bounded explode) must add no
    exchange — reweighting a 100 TB corpus is a single linear pass."""
    from cloudbrush_spark.operators import sampling
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, source string")
    q = sampling.mixture_resample(df, {"a": 2.5, "b": 0.3})
    assert plan_checks.shuffle_count(q) == 0


def test_tpch_semi_and_anti_legs_plan_as_semi_anti_joins(spark):
    """The r8 TPC-H legs must keep their set-operation shapes: q4's
    EXISTS plans as a LEFT SEMI join (match multiplicity never
    materialized), q16's supplier blacklist and q22's NOT EXISTS plan as
    LEFT ANTI joins — never inner-join + distinct, which would shuffle
    the full match fan-out at 100 TB."""
    import __spark_entry__ as entry
    q4 = plan_checks.explain_str(entry.q_tpch_q4(spark, SF))
    assert "LeftSemi" in q4
    q16 = plan_checks.explain_str(entry.q_tpch_q16(spark, SF))
    assert "LeftAnti" in q16 and plan_checks.has_broadcast_join(
        entry.q_tpch_q16(spark, SF))
    q22 = plan_checks.explain_str(entry.q_tpch_q22(spark, SF))
    assert "LeftAnti" in q22


def test_boilerplate_scrub_no_nested_loop_no_global_exchange(spark):
    """The line scrub must stay a partitioned groupBy/join chain: no
    broadcast nested loop, no SinglePartition exchange — a global
    bottleneck here would serialize the whole corpus through one task."""
    from cloudbrush_spark.operators import guard
    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string")
    plan = plan_checks.explain_str(guard.boilerplate_scrub(df))
    assert "BroadcastNestedLoop" not in plan
    assert "SinglePartition" not in plan


def test_tpch_r9_legs_keep_their_join_shapes(spark):
    """q21's correlated EXISTS / NOT EXISTS must plan as one LEFT SEMI
    plus one LEFT ANTI on the order-key self-join (never inner+distinct
    — the match fan-out of a 7-line order would shuffle 7x at 100 TB);
    q15's scalar max and q19's part dimension must broadcast."""
    import __spark_entry__ as entry
    q21 = plan_checks.explain_str(entry.q_tpch_q21(spark, SF))
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    q15 = plan_checks.explain_str(entry.q_tpch_q15(spark, SF))
    assert "BroadcastNestedLoopJoin" in q15 or "BroadcastExchange" in q15
    assert plan_checks.has_broadcast_join(entry.q_tpch_q19(spark, SF))
    # q8: the region-restricted customer set must stay a broadcast LEFT
    # SEMI (an inner join would duplicate fact rows for no reason and a
    # shuffled semi would move the 100 TB fact for a dimension filter);
    # every dimension chain broadcasts.
    q8 = plan_checks.explain_str(entry.q_tpch_q8(spark, SF))
    assert "LeftSemi" in q8 and "BroadcastExchange" in q8
    # q9: part carries p_retailprice through the aggregate — the part
    # and supplier dims must broadcast, never shuffle the fact twice.
    q9 = plan_checks.explain_str(entry.q_tpch_q9(spark, SF))
    assert "BroadcastExchange" in q9


def test_stratified_sample_prunes_and_never_single_partitions(spark):
    """stratified_sample's corpus-side work must stay partitioned: the
    only unpartitioned frame is the bounded (source x bucket) prefix
    window — the corpus itself never crosses a SinglePartition exchange
    or a global Sort, and the bucket prune keeps past-n buckets out of
    the rank entirely."""
    from cloudbrush_spark.operators import sampling
    df = spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(400)], "doc_id long, source string")
    plan = plan_checks.explain_str(sampling.stratified_sample(df, 5))
    # the in-bucket rank partitions by (source, bucket); a global Sort of
    # the corpus would show as Sort [h ...] with no partitioning
    assert "SinglePartition" not in plan.split("cnt")[0]  # corpus side
    assert plan.count("Window") >= 1
