"""Repository benchmark: the user-facing pipelines on local[N].

Usage (from the repository root):

    python3 perfbench/run.py --workload asm_deep --seed 1 --seconds 1 --trace 0

One process generates the workload's inputs from ``--seed``, starts the
session (``cloudbrush_spark.session.get_spark``) and warms the JVM with a
fixed, workload-independent Spark query mix (session start + warm-up =
``setup_s``).  It then runs the pipeline for ``--seconds`` seconds (at
least one pass), timing and checking every pass.  With ``--trace 1`` every
pass is traced: Spark work is attributed to the public stage functions and
the per-layer metrics are reported instead of the end-to-end ones.  The
last stdout line is the JSON result; the line before it carries per-pass
details (samples, host witness, loop counters, check problems).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
# the repository root replaces this script's directory on the path, so
# the benchmark's module names never shadow standard-library ones
sys.path[0] = ROOT

from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import LAYER_COUNTERS, SPANS, WORKLOADS  # noqa: E402


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate_scratch() -> str:
    """Keep every file Spark, the JVM and Python write inside DATA."""
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(DATA, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return tmp


def _warm_jvm(spark) -> None:
    """Fixed Spark query mix (scan, checkpoint, aggregate, shuffle and
    broadcast joins, window, explode, string and array functions) that
    JIT-compiles the engine's common paths before the first timed pass.
    It does not touch the pipelines, so it costs the same for every
    workload and every version of them."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    df = spark.range(0, 20000, 1, 4).select(
        "id", (F.col("id") % 97).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("s")).localCheckpoint(eager=True)
    agg = df.groupBy("k").agg(F.count("*").alias("c"), F.min("s").alias("m"),
                              F.collect_list("id").alias("l"))
    (df.join(agg, "k")
     .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
     .withColumn("e", F.explode(F.slice("l", 1, 3)))
     .filter(F.length("s") > 10)
     .select(F.sum("r"), F.countDistinct("e"), F.max(F.substring("s", 1, 5)))
     .collect())
    df.join(agg.filter("c > 100"), "k", "left_semi").count()
    df.join(F.broadcast(agg), "k", "left_anti").count()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _first_digest(key: str, digest: str) -> str:
    """The output digest recorded by the first run of this workload and
    seed in this checkout (recording ``digest`` if there is none yet)."""
    path = os.path.join(DATA, "digests.json")
    try:
        with open(path) as fh:
            known = json.load(fh)
    except (OSError, ValueError):
        known = {}
    if key not in known:
        known[key] = digest
        with open(path + ".tmp", "w") as fh:
            json.dump(known, fh)
        os.replace(path + ".tmp", path)
    return known[key]


def _tail(values: list[float]) -> dict | None:
    """Highest percentile with >= 10 samples beyond it (None if n < 11)."""
    n = len(values)
    if n < 11:
        return None
    return {"pct": round(100.0 * (n - 10) / n, 2),
            "value": sorted(values)[n - 11], "n": n}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cloudbrush_spark", "__init__.py")):
        print(f"perfbench: no cloudbrush_spark package under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = _isolate_scratch()
    workdir = os.path.join(DATA, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        inp = wl.prepare(args.seed, workdir)
        from cloudbrush_spark.session import get_spark
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse")}
        if args.trace:
            # the status store behind the REST API, with retention sized
            # so no traced job is evicted before it is read
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                         "spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        t0 = time.perf_counter()
        spark = get_spark("perfbench", conf)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            _warm_jvm(spark)
            setup_s = time.perf_counter() - t0
            detail, final = _measure(spark, wl, inp, args, setup_s)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(final))
    return 0 if final["correct"] else 1


def _measure(spark, wl, inp, args, setup_s):
    from cloudbrush_spark.session import host_witness, host_witness_delta
    jvm = tr.jvm_pid()
    tracer = tr.Tracer(spark if args.trace else None)
    since = tr.last_job_id(spark) + 1 if args.trace else 0
    samples, problems, counters, quality = [], [], {}, None
    # the workload's parameters are part of the key, so a changed
    # workload definition never compares against an old digest
    params = hashlib.sha1(repr(vars(wl)).encode()).hexdigest()[:12]
    key = f"{args.workload}-{args.seed}-{params}"
    deadline = time.perf_counter() + args.seconds
    with tracer.patched(wl.trace_targets() if args.trace else []):
        while not samples or time.perf_counter() < deadline:
            w0, c0 = host_witness(), tr.tree_cpu_s()
            with tr.RssPeak(jvm) as rss:
                t = time.perf_counter()
                try:
                    out, probs = wl.run(spark, inp, tracer), []
                except Exception:
                    out, probs = None, [traceback.format_exc(limit=3)]
                run_s = time.perf_counter() - t
            cpu_s = tr.tree_cpu_s() - c0
            if out is not None:
                res = wl.check(inp, out)
                probs = list(res.problems)
                if res.digest != _first_digest(key, res.digest):
                    probs.append("output digest differs from the first run of this seed")
                quality = quality or res
                counters = wl.layer_counters(out)
            samples.append({"run_s": run_s, "cpu_s": cpu_s, "peak_rss_mb": rss.peak_mb,
                            "ok": not probs,
                            "host_witness_delta": host_witness_delta(w0, host_witness())})
            problems += probs
    attempted = len(samples)
    failed = sum(not s["ok"] for s in samples)
    ok_runs = [s for s in samples if s["ok"]] or samples
    detail = {"workload": args.workload, "seed": args.seed, "n_inputs": inp["n_inputs"],
              "setup_s": setup_s, "samples": samples,
              "run_s_tail": _tail([s["run_s"] for s in ok_runs]),
              "counters": counters, "problems": problems[:10]}
    if args.trace:
        metrics = _layer_metrics(spark, tracer, since, samples, counters)
        tracer.dump(os.path.join(DATA, f"spans-{args.workload}-{args.seed}.json"))
    else:
        med = {k: statistics.median(s[k] for s in ok_runs) for k in ("run_s", "cpu_s")}
        metrics = {
            "run_s": {"value": med["run_s"], "unit": "s"},
            "cpu_s": {"value": med["cpu_s"], "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "yield": {"value": quality.yield_ if quality else 0.0, "unit": "count"},
            "fidelity": {"value": quality.fidelity if quality else 0.0, "unit": "frac"},
            "ok_frac": {"value": (attempted - failed) / attempted, "unit": "frac"},
        }
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": metrics}
    return detail, final


def _layer_metrics(spark, tracer, since, samples, counters):
    """Per-span metrics, averaged per pass: self time, calls, Spark jobs,
    executor CPU, shuffle write and busy fraction; plus the workload's
    loop counters and the tracer's own cost."""
    n = len(samples)
    cores = spark.sparkContext.defaultParallelism
    work = tr.work_by_tag(spark, since)
    selfs = tracer.self_times()
    metrics = {}
    for name in SPANS:
        self_s, calls = (v / n for v in selfs.get(name, (0.0, 0)))
        w = {k: v / n for k, v in work.get(
            name, {"jobs": 0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0}).items()}
        metrics.update({
            f"{name}.self_s": {"value": self_s, "unit": "s"},
            f"{name}.calls": {"value": calls, "unit": "count"},
            f"{name}.jobs": {"value": w["jobs"], "unit": "count"},
            f"{name}.exec_cpu_s": {"value": w["exec_cpu_s"], "unit": "s"},
            f"{name}.shuffle_mb": {"value": w["shuffle_mb"], "unit": "MB"},
            f"{name}.busy_frac": {"value": w["exec_cpu_s"] / (self_s * cores)
                                  if self_s > 0 else 0.0, "unit": "frac"},
        })
    for name in LAYER_COUNTERS:
        metrics[name] = {"value": float(counters.get(name, 0.0)),
                         "unit": "frac" if name.endswith("_frac") else "count"}
    # reported, not gated: G1 sizes the heap adaptively, so the JVM's
    # resident peak spreads by 16-33% between seeds
    metrics["jvm.peak_rss_mb"] = {"value": max(s["peak_rss_mb"] for s in samples),
                                  "unit": "MB"}
    wall = sum(s["run_s"] for s in samples)
    metrics["trace.run_s"] = {"value": wall / n, "unit": "s"}
    metrics["trace.overhead_s"] = {"value": tracer.overhead_s / n, "unit": "s"}
    metrics["trace.span_cover_frac"] = {
        "value": sum(s for s, _ in selfs.values()) / wall, "unit": "frac"}
    metrics["trace.untagged_jobs"] = {
        "value": work.get("untagged", {}).get("jobs", 0) / n, "unit": "count"}
    return metrics


if __name__ == "__main__":
    sys.exit(main())
