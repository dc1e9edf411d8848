"""PIVOT densification and CUBE grouping-set semantics, plus the bag
set operations and the RANGE-frame window of `relational_extras`.

The `relational_extras` driver legs hash-pin both against DuckDB at
three SFs, but the testdata happens to populate EVERY
(priority, status) cell — so the pivot's semantic delta over a two-key
groupBy (absent cells materialize as dense zero/NULL columns) never
fires there.  This fixture has a hole and pins it, plus CUBE's margin
rows (the single-axis grouping sets ROLLUP lacks).
"""

from pyspark.sql import functions as F


def _orders(spark):
    # priority 'hi' never sees status 'P' -> a real hole in the matrix
    rows = [
        (1, "hi", "O", 10.0), (2, "hi", "F", 20.0),
        (3, "lo", "O", 40.0), (4, "lo", "P", 80.0), (5, "lo", "P", 1.5),
    ]
    return spark.createDataFrame(
        rows, "o_orderkey long, prio string, status string, price double")


def test_pivot_materializes_absent_cells_as_null(spark):
    cents = (F.col("price").cast("decimal(18,2)") * 100).cast("long")
    piv = (_orders(spark).groupBy("prio")
           .pivot("status", ["O", "F", "P"])
           .agg(F.count(F.lit(1)).alias("cnt"), F.sum(cents).alias("cents")))
    got = {r.prio: r.asDict() for r in piv.collect()}
    assert got["hi"]["P_cnt"] is None and got["hi"]["P_cents"] is None
    assert got["hi"]["O_cnt"] == 1 and got["hi"]["O_cents"] == 1000
    assert got["lo"]["P_cnt"] == 2 and got["lo"]["P_cents"] == 8150
    # a two-key groupBy would emit 4 rows; the pivot emits a DENSE 2x3
    assert set(got) == {"hi", "lo"} and len(got["hi"]) == 7


def test_pivot_explicit_values_skip_distinct_scan(spark):
    # with an explicit value list the plan is one aggregate pass — no
    # extra job materializing distinct pivot values (the scan the
    # explicit form exists to avoid at 100 TB); proxy: the analyzed plan
    # builds without an eager action, and unlisted values are DROPPED
    piv = (_orders(spark).groupBy("prio").pivot("status", ["O", "Z"])
           .agg(F.count(F.lit(1)).alias("cnt")))
    # single-agg pivot names columns by the bare value
    got = {r.prio: r.asDict() for r in piv.collect()}
    assert all(r["Z"] is None for r in got.values())
    assert "P" not in piv.columns


def test_cube_emits_both_margins_and_grand_total(spark):
    cub = (_orders(spark).cube("prio", "status")
           .agg(F.count(F.lit(1)).alias("cnt")))
    got = {(r.prio, r.status): r.cnt for r in cub.collect()}
    assert got[(None, None)] == 5            # grand total
    assert got[("hi", None)] == 2            # rollup-style margin
    assert got[(None, "P")] == 2             # the margin ROLLUP lacks
    assert got[("lo", "P")] == 2
    # 4 populated cells + 2 prio margins + 3 status margins + grand total
    assert len(got) == 10


def test_grouping_id_disambiguates_null_group_values(spark):
    """The driver legs key ROLLUP/CUBE margin rows by grouping_id, not a
    NULL-coalesce sentinel — a genuine NULL group value must stay
    distinct from the margin row that aggregates over it (the testdata
    has no NULL flags, so this pin is the only guard)."""
    rows = [("R", "O", 1.0), ("R", "O", 2.0), (None, "O", 4.0)]
    df = spark.createDataFrame(rows, "flag string, status string, qty double")
    agg = (df.rollup("flag", "status")
           .agg(F.grouping_id().alias("gid"),
                F.sum("qty").cast("long").alias("qty")))
    keyed = agg.select(
        F.concat_ws(":", F.col("gid").cast("string"),
                    F.coalesce(F.col("flag"), F.lit("(null)"))).alias("k1"),
        F.coalesce(F.col("status"), F.lit("(null)")).alias("k2"),
        "qty")
    got = {(r.k1, r.k2): r.qty for r in keyed.collect()}
    # genuine NULL flag (gid bit 0) vs its own margin (gid bit 1) vs the
    # grand total (gid 3) are three DIFFERENT keys
    assert got[("0:(null)", "O")] == 4          # real NULL group value
    assert got[("1:(null)", "(null)")] == 4     # margin over that flag
    assert got[("3:(null)", "(null)")] == 7     # grand total
    assert got[("0:R", "O")] == 3 and got[("1:R", "(null)")] == 3
    assert len(got) == 5

    # DuckDB's GROUPING() bit order must agree with Spark's grouping_id()
    import duckdb
    duck = duckdb.sql(
        "SELECT CAST(GROUPING(flag, status) AS VARCHAR) || ':' || "
        "coalesce(flag, '(null)') AS k1, "
        "coalesce(status, '(null)') AS k2, CAST(sum(qty) AS BIGINT) AS qty "
        "FROM (VALUES ('R','O',1.0),('R','O',2.0),(NULL,'O',4.0)) "
        "t(flag, status, qty) GROUP BY ROLLUP (flag, status)").fetchall()
    assert {(k1, k2): q for k1, k2, q in duck} == got


def test_grouping_sets_gid_bit_order_matches_duckdb(spark):
    """Explicit GROUPING SETS ((flag),(status),()) — every output row is a
    margin (gid in {1,2,3}, never the two-key 0), and Spark's
    grouping_id() bit order (first listed column = MSB) agrees with
    DuckDB's GROUPING(flag, status) row for row."""
    df = spark.createDataFrame(
        [("R", "O", 1), ("R", "F", 2), (None, "O", 4)],
        "flag string, status string, qty long")
    df.createOrReplaceTempView("__gsets_pin")
    got = {(r.k1, r.k2): r.qty for r in spark.sql("""
        SELECT concat_ws(':', CAST(grouping_id() AS STRING),
                         coalesce(flag, '(null)')) AS k1,
               coalesce(status, '(null)') AS k2, sum(qty) AS qty
        FROM __gsets_pin
        GROUP BY GROUPING SETS ((flag), (status), ())
    """).collect()}
    assert got[("1:R", "(null)")] == 3       # flag-only rows: status bit set
    assert got[("1:(null)", "(null)")] == 4  # genuine NULL flag group
    assert got[("2:(null)", "O")] == 5       # status-only rows: flag bit set
    assert got[("3:(null)", "(null)")] == 7  # grand total
    assert all(k1.split(":")[0] in {"1", "2", "3"} for k1, _ in got)

    import duckdb
    duck = duckdb.sql(
        "SELECT CAST(GROUPING(flag, status) AS VARCHAR) || ':' || "
        "coalesce(flag, '(null)') AS k1, "
        "coalesce(status, '(null)') AS k2, CAST(sum(qty) AS BIGINT) AS qty "
        "FROM (VALUES ('R','O',1),('R','F',2),(NULL,'O',4)) "
        "t(flag, status, qty) "
        "GROUP BY GROUPING SETS ((flag), (status), ())").fetchall()
    assert {(k1, k2): q for k1, k2, q in duck} == got


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
