"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
isolation, plan capture, and stage-level probes.

This file is NOT part of the frozen driver contract (`bench.py` is); it
exists so optimization evidence (before/after numbers, explain output) can
be produced without touching the measured harness.

Usage:
  python bench_extra.py --queries q46,q49          # time via noop sink
  python bench_extra.py --queries q46 --plan       # also write plans/r06/
  python bench_extra.py --queries all --repeat 2
  python bench_extra.py --flagship-arrow           # flagship arrow isolation

Every run's JSON also carries two per-task worker costs, each the median over
one task per core of one Spark job (see `ocrd_odem_spark/worker_daemon.py`):
`worker.invalidate_caches_ms`, one `importlib.invalidate_caches()` call, the
import-cache reset PySpark makes before any UDF code runs, and
`worker.gc_collect_ms`, one `gc.collect()`, the collection the daemon runs in
each reused worker after every task.

It also carries `pipeline.extract_worker_cpu_s`: the summed
`time.process_time()` spent inside the extract stage's Arrow function (its
input batches' reads included) over all tasks of one noop-sink run of the
flagship stage, `extract_arrow(dehyphenate=True)` over the benchmark's
`extract-flagship` input at seed 1 (2,400 docs in 32 splits, built or reused
under `.perfbench-cache/`).  The timer wraps the function here, through the
DataFrame class's `mapInArrow` while the plan is built; the engine itself
carries no timer.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ROOT = os.path.dirname(os.path.abspath(__file__))
PLAN_DIR = os.path.join(ROOT, "plans", "r06")


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]) if len(f) > 8 else 0
    except (OSError, ValueError):
        return 0


def _session(cores: int):
    from ocrd_odem_spark.session import get_spark

    # mirror bench.py's session exactly so numbers are comparable
    return get_spark(
        "bench_extra",
        cores=cores,
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(6 * 1024 * 1024),
        },
    )


def explain_str(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checksum(df) -> None:
    """bench.py's forcing action, for apples-to-apples comparison."""
    from pyspark.sql import functions as F

    df.select(F.expr("bit_xor(xxhash64(struct(*)))").alias("h")).collect()


def worker_costs(spark, cores: int) -> dict:
    """Median ms of one ``importlib.invalidate_caches()`` and one
    ``gc.collect()`` in a worker task, one task per core."""
    import statistics

    def probe(batches):
        import gc
        import importlib

        import pyarrow as pa

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        t1 = time.perf_counter()
        gc.collect()
        t2 = time.perf_counter()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"reset": (t1 - t0) * 1e3, "gc": (t2 - t1) * 1e3}])

    rows = (
        spark.range(cores, numPartitions=cores)
        .mapInArrow(probe, "reset double, gc double")
        .collect()
    )
    return {
        "worker.invalidate_caches_ms": round(statistics.median(r["reset"] for r in rows), 3),
        "worker.gc_collect_ms": round(statistics.median(r["gc"] for r in rows), 3),
    }


def extract_worker_cpu(spark) -> dict:
    """Summed worker CPU seconds of the flagship extract function in one
    run of its stage (the second of two; the first warms the workers)."""
    from ocrd_odem_spark.plans import pipeline

    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import inputs

    manifest = inputs.prepare("extract-flagship", 1, os.path.join(ROOT, ".perfbench-cache"))
    docs = spark.read.parquet(manifest["paths"]["docs"])
    spent = spark.sparkContext.accumulator(0.0)
    frame = type(docs)  # the session's concrete DataFrame class
    map_in_arrow = frame.mapInArrow

    def timed(self, func, schema, *args, **kwargs):
        def wrapped(batches):
            out = iter(func(batches))
            cpu = 0.0
            while True:
                t0 = time.process_time()
                try:
                    batch = next(out)
                except StopIteration:
                    break
                finally:
                    cpu += time.process_time() - t0
                yield batch
            spent.add(cpu)

        return map_in_arrow(self, wrapped, schema, *args, **kwargs)

    frame.mapInArrow = timed
    try:
        stage = pipeline.extract_arrow(docs, dehyphenate=True)
    finally:
        frame.mapInArrow = map_in_arrow
    noop(stage)
    spent.value = 0.0
    noop(stage)
    return {"pipeline.extract_worker_cpu_s": round(spent.value, 3)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--plan", action="store_true")
    ap.add_argument("--plan-suffix", default="before")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--force", default="checksum", choices=["checksum", "noop"])
    ap.add_argument("--flagship-arrow", action="store_true")
    ap.add_argument("--flagship-hof", action="store_true")
    ap.add_argument("--replicate", type=int, default=int(os.environ.get("SPARK_GRAFT_REPLICATE", "48")))
    ap.add_argument(
        "--cores",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))),
    )
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    os.environ.setdefault("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC")

    spark = _session(args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {
        "sf_dir": sf_dir,
        "force": args.force,
        **worker_costs(spark, args.cores),
        **extract_worker_cpu(spark),
    }

    if args.flagship_arrow or args.flagship_hof:
        import bench

        mode = "arrow" if args.flagship_arrow else "hof"
        bench.run_flagship(spark, sf_dir, args.replicate, mode)  # warm-up
        t0, c0 = time.time(), _steal_ticks()
        r = bench.run_flagship(spark, sf_dir, args.replicate, mode)
        el = time.time() - t0
        r["steal_pct"] = bench._steal_pct(c0, _steal_ticks(), el)
        out["flagship"] = r
        print(json.dumps(out))
        spark.stop()
        return

    from ocrd_odem_spark.plans import queries as q

    reg = q.registry()
    names = (
        list(reg)
        if args.queries == "all"
        else [n for n in reg if any(n.startswith(p) for p in args.queries.split(","))]
    )
    force = checksum if args.force == "checksum" else noop
    times: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        if args.plan:
            os.makedirs(PLAN_DIR, exist_ok=True)
            df = reg[name][0](spark, sf_dir)
            with open(
                os.path.join(PLAN_DIR, f"{name}_{args.plan_suffix}.txt"), "w"
            ) as fh:
                fh.write(explain_str(df))
        for _ in range(args.repeat):
            t0, c0 = time.time(), _steal_ticks()
            force(reg[name][0](spark, sf_dir))
            el = time.time() - t0
            times.setdefault(name, []).append(round(el, 3))
        spark.sparkContext.setJobDescription(None)
    out["times"] = times
    out["steal_final"] = _steal_ticks()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
