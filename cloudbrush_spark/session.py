"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` but every conf here is chosen for the
1000-executor / 100 TB deployment: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), broadcast threshold generous enough to
keep dimension joins shuffle-free, Arrow on for the few Pandas-UDF
operators, shuffle partitions sized by cores locally and overridable by
env for cluster runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cloudbrush-spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = os.environ.get("CLOUDBRUSH_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("CLOUDBRUSH_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("CLOUDBRUSH_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # reliable checkpoints (plans.cut's cluster mode, used at every
        # stage boundary and loop round) are NOT auto-deleted by default;
        # without this a long-running service fills the checkpoint volume
        # with dead intermediate copies
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# PRIMARY health gate: absolute wall of the parallel probe leg (fixed work
# per core, so comparable across sessions regardless of single-thread burst
# boost).  ~1.8-2s when this host matched its BASELINE.md anchors; 5.9-16.7s
# during the round-6 hypervisor-throttle incident.
HEALTHY_PARALLEL_SEC = 3.5

# SECONDARY signal only: parallel/single ratio.  The single-thread
# denominator burst-boosts on credit-scheduled hosts (observed 0.77s ->
# 0.22s late round 6), inflating the ratio while aggregate capacity — and
# query times — are fine, so a high ratio alone does NOT mean the bench is
# incomparable.  Judge by ``host_parallel_sec`` vs HEALTHY_PARALLEL_SEC
# (bench.py and BASELINE.md round-6 amended policy); use the ratio only as
# a cross-check when the parallel leg is also elevated.
HEALTHY_PARALLEL_RATIO = 3.0


def host_parallel_probe(spark: SparkSession, rows: int = 200_000) -> tuple[float, float]:
    """Fixed-work host-health probe: (parallel_sec, single_sec).

    Runs ``cpus x rows`` sha2 hashes on ``cpus`` partitions, then ``rows``
    on one partition; parallel/single ~1-2 on a healthy host (scheduler
    overhead only).  On shared VMs the hypervisor can throttle many-core
    throughput while single-thread latency stays normal — which inflates
    every shuffle-heavy query by the same factor and looks exactly like an
    engine regression (observed round 6: ratio 6.6, effective ~5 of 32
    cores, overlap_graph "regressed" 12.4s -> 24s with zero code change).
    The probe is sized to the host core count so a healthy 8-core machine
    is not misread as throttled.  One shared implementation (bench.py
    calls it) so a recalibration cannot desynchronize the recorded
    ratios from the documented probe.
    """
    import time

    from pyspark.sql import functions as F

    # size the leg by the session's ACTUAL parallelism, not os.cpu_count():
    # under local[N] with N != host cores (or a cgroup-constrained
    # container) the two differ, and a mis-sized leg skews the healthy
    # ~1-2x ratio expectation
    cpus = spark.sparkContext.defaultParallelism or 4
    t0 = time.time()
    spark.range(0, cpus * rows, 1, cpus) \
        .select(F.sha2(F.col("id").cast("string"), 256).alias("h")) \
        .select(F.max("h")).collect()
    par = time.time() - t0
    t0 = time.time()
    spark.range(0, rows, 1, 1) \
        .select(F.sha2(F.col("id").cast("string"), 256).alias("h")) \
        .select(F.max("h")).collect()
    return par, max(time.time() - t0, 1e-9)


def host_witness() -> dict:
    """Snapshot of CODE-INDEPENDENT host-capacity counters (r12).

    ``host_parallel_probe`` runs Spark work, so a reading that looks
    healthy while capacity is degraded (its documented false-negative
    mode) leaves the drift-vs-regression call without an independent
    witness.  These counters come straight from the kernel — none of
    them depend on Spark, the JVM, or this engine — so bench.py records
    the DELTA across each run:

    - ``cgroup_throttled_usec``: CFS bandwidth throttling charged to
      this container (cgroup v2 ``cpu.stat: throttled_usec``, v1
      ``cpu/cpu.stat: throttled_time`` ns) — nonzero delta = the kernel
      itself stalled our runnable threads.
    - ``proc_stat_steal_ticks`` / ``proc_stat_total_ticks``: hypervisor
      steal time vs all CPU ticks (``/proc/stat``) — steal%% during the
      run is the share of machine capacity the hypervisor took.
    - ``psi_cpu_some_usec``: PSI cpu ``some`` stall total — time any
      task sat runnable-but-not-running.

    Missing files (non-Linux, masked /proc) simply omit keys — callers
    emit whatever subset exists."""
    out: dict = {}
    for path, field, scale in (
        ("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1),
        ("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1000),
        ("/sys/fs/cgroup/unified/cpu.stat", "throttled_usec", 1),
    ):
        try:
            with open(path) as f:
                for line in f:
                    k, _, v = line.partition(" ")
                    if k == field:
                        out["cgroup_throttled_usec"] = int(v) // scale
                        break
        except (OSError, ValueError):
            continue
        if "cgroup_throttled_usec" in out:
            break
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        out["proc_stat_total_ticks"] = sum(vals)
        out["proc_stat_steal_ticks"] = vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    out["psi_cpu_some_usec"] = int(
                        line.rsplit("total=", 1)[1])
                    break
    except (OSError, ValueError, IndexError):
        pass
    return out


def host_witness_delta(before: dict, after: dict) -> dict:
    """Per-run deltas of :func:`host_witness` snapshots, plus the
    derived ``steal_pct`` (hypervisor-stolen share of all CPU ticks
    during the window).  Keys absent from either snapshot are omitted."""
    out: dict = {}
    for k in ("cgroup_throttled_usec", "psi_cpu_some_usec",
              "proc_stat_steal_ticks", "proc_stat_total_ticks"):
        if k in before and k in after:
            out[k + "_delta"] = after[k] - before[k]
    total = out.pop("proc_stat_total_ticks_delta", 0)
    steal = out.pop("proc_stat_steal_ticks_delta", None)
    if steal is not None and total > 0:
        out["steal_pct"] = round(100.0 * steal / total, 2)
    return out
