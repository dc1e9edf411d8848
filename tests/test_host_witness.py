"""The bench's orthogonal host-health witness (r12): kernel counters
that no engine change can move, so the drift-vs-regression call in
BASELINE.md no longer rests on the Spark-based probe alone."""

import time

from cloudbrush_spark.session import host_witness, host_witness_delta


def test_host_witness_snapshot_shape():
    w = host_witness()
    # on the Linux hosts this repo targets, /proc/stat always parses
    assert "proc_stat_total_ticks" in w and "proc_stat_steal_ticks" in w
    assert all(isinstance(v, int) and v >= 0 for v in w.values())


def test_host_witness_delta_monotone_and_derived():
    a = host_witness()
    t0 = time.time()
    while time.time() - t0 < 0.3:  # burn ticks so totals advance
        sum(i * i for i in range(10000))
    b = host_witness()
    d = host_witness_delta(a, b)
    assert all(v >= 0 for k, v in d.items() if k.endswith("_delta"))
    # raw tick counters fold into the derived steal share
    assert "proc_stat_total_ticks_delta" not in d
    if "steal_pct" in d:
        assert 0.0 <= d["steal_pct"] <= 100.0
    # missing-key snapshots degrade gracefully
    assert host_witness_delta({}, b) == {}


def test_bench_final_line_fits_driver_tail_window():
    """r13 regression pin: the driver keeps only a ~2,000-char stdout
    tail, and inlining the per-query work map grew the final line to
    5.6KB (BENCH_r13.json parsed:null).  Build the final line with a
    full-size 33-query timing map, a realistic witness, and the work
    digest, and assert it stays comfortably inside the window."""
    import bench

    timings = {name: 123.456 for name in bench.HEADLINE}
    witness = {"throttled_usec_delta": 123456789,
               "nr_throttled_delta": 12345,
               "steal_pct": 3.17,
               "psi_cpu_some_total_usec_delta": 987654321}
    digest = {"cpu_sec": 1234.5, "shuffle_read_mb": 5678.9,
              "input_mb": 4321.0}
    line = bench.final_line(9999.999, timings, 0.1, 12.34, 5.6,
                            witness, digest)
    assert len(line) < 1900, len(line)
    import json
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    assert parsed["work_total"] == digest


def test_bench_headline_names_resolve():
    """Every bench.HEADLINE name resolves the way ``bench.main`` resolves
    it: a registered query, a ``q_<name>`` function of the entry module,
    or an explicit single-op override.  A stale name otherwise surfaces
    only as a ``SystemExit`` on a full bench run."""
    import __spark_entry__ as entrymod
    import bench

    registered = entrymod.queries()
    stale = [n for n in bench.HEADLINE
             if n not in registered and not hasattr(entrymod, f"q_{n}")
             and n not in bench.OVERRIDES]
    assert not stale, stale
