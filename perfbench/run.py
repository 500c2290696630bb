"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload extract-flagship --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. builds the seeded input of the workload (or reuses it from
   ``.perfbench-cache/``) and the oracle's expected output;
2. sets up a Spark session ``SETUPS`` times and registers the input each
   time: the first set-up launches the driver JVM and is followed by the
   cold iteration, later ones restart the SparkContext in that JVM;
3. runs warm-up iterations for ``WARMUP_S``, then times warm iterations
   for ``--seconds``;
4. checks every iteration's output, and the last one document by document
   against the oracle.

With ``--trace 1`` every other warm iteration is traced, and layer probes
run after the loop; the per-layer ledger is printed instead of the
end-to-end metrics.  The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  The exit code is
0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench-cache")

#: set-ups per run; the median is ``setup_s``
SETUPS = 3
#: seconds of unmeasured iterations after the cold one (at least one), so
#: the JIT has compiled the hot paths before timing starts
WARMUP_S = 3.0
#: measured iterations run even when ``--seconds`` has passed
MIN_WARM = 3
#: stop starting iterations after this many seconds of the whole run
RUN_BUDGET_S = 70.0

#: every per-layer metric, in BENCHMARK.json order; a workload that never
#: reaches a layer reports 0 for it
PER_LAYER = [
    "scan.noop_s",
    "scan.tasks",
    "pipeline.boundary_identity_s",
    "pipeline.python_tasks",
    "pipeline.task_overhead_ms",
    "pipeline.extract_arrow_noop_s",
    "oracle.us_per_span",
    "pipeline.extract_meta_noop_s",
    "pipeline.meta_dims_s",
    "state.checkpoint_s",
    "state.publish_overhead_s",
    "state.resume_noop_s",
    "state.files_written",
    "state.bytes_per_doc",
    "export.materialize_s",
    "export.zips",
    "export.bytes",
    "dedup.lsh_s",
    "dedup.candidate_pairs",
    "dedup.oversized_buckets",
    "dedup.verify_s",
    "dedup.verified_pairs",
    "dedup.verify_yield",
    "dedup.canonical_s",
    "dedup.components",
    "spark.jobs",
    "spark.tasks",
    "spark.failed_tasks",
    "pipeline.docs_out",
    "pipeline.spans_out",
    "pipeline.chars_out",
    "dedup.duplicates",
    "session.jvm_start_s",
    "cold_iter_s",
    "peak_rss_mb",
    "rss.jvm_peak_mb",
    "rss.workers_peak_mb",
    "session.self_s",
    "sources.self_s",
    "pipeline.self_s",
    "state.self_s",
    "export.self_s",
    "dedup.self_s",
    "sink.self_s",
    "trace.overhead_pct",
]
#: per-layer metrics that come from spans of the traced warm iterations
SPAN_METRICS = {
    "state.checkpoint_s": "state.run_with_checkpoint",
    "state.resume_noop_s": "state.resume",
}
#: layers whose self time is taken over the measured iterations (session
#: and input registration are timed over the set-ups, dedup over the one
#: run of the extract job's dedup chain)
SELF_LAYERS = ["pipeline", "state", "export", "sink"]


def configure_env() -> None:
    """Keep every file the run writes inside the checkout, and size the
    driver for a small host: 8g heap and ParallelGC, as ``bench.py``."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "8g"
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}"


def start_session(nproc: int):
    from ocrd_odem_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=nproc,
        shuffle_partitions=max(nproc, 8),
        extra_conf={
            # one input split per file, whatever the file size
            "spark.sql.files.maxPartitionBytes": str(8 << 20),
            "spark.sql.files.openCostInBytes": str(8 << 20),
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    # the engine under test is the checkout's own package, never an
    # installed copy: without it the run must fail
    sys.path.insert(0, ROOT)
    try:
        import ocrd_odem_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is missing: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(ocrd_odem_spark.__file__))) != ROOT:
        print("perfbench: ocrd_odem_spark is not imported from this checkout", file=sys.stderr)
        return 2

    import inputs
    import tracing
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    configure_env()
    from pyspark import SparkContext

    manifest = inputs.prepare(args.workload, args.seed, os.path.join(CACHE, "inputs"))
    wl = workloads.WORKLOADS[args.workload](manifest, nproc)
    wl.expected()
    marks = {"inputs": time.perf_counter()}

    tracer = tracing.Tracer(bool(args.trace))
    sampler = tracing.RssSampler()
    sampler.start()
    ticks = tracing.cpu_ticks()
    work_root = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")

    setup_s: list[float] = []
    cold_s: float | None = None
    times: list[tuple[int, bool, float]] = []  # (k, traced, seconds) measured
    ok: list[bool] = []
    probes: dict = {}
    spark = None
    workdir = ""

    def iteration(k: int, traced: bool) -> float | None:
        """Run, time and check iteration ``k``; None when it raised."""
        nonlocal workdir
        tracer.enabled = traced
        tracer.iteration = f"it{k}"
        if workdir:
            shutil.rmtree(workdir, ignore_errors=True)
        workdir = os.path.join(work_root, f"it{k}")
        os.makedirs(workdir)
        t0 = time.perf_counter()
        try:
            with tracer.span("bench.iteration"):
                counts = wl.iterate(spark, tracer, workdir)
        except Exception:
            traceback.print_exc()
            ok.append(False)
            return None
        elapsed = time.perf_counter() - t0
        problems = wl.check(counts, workdir)
        for p in problems:
            print(f"perfbench: iteration {k}: {p}", file=sys.stderr)
        ok.append(not problems)
        return elapsed

    try:
        # the first set-up launches the JVM and is followed by the cold
        # iteration; the others restart the SparkContext in that JVM
        for i in range(SETUPS):
            tracer.enabled = bool(args.trace)
            tracer.iteration = f"setup{i}"
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = start_session(nproc)
            wl.setup(spark, tracer)
            setup_s.append(time.perf_counter() - t0)
            sampler.root_pid = SparkContext._gateway.proc.pid
            if i == 0:
                cold_s = iteration(0, bool(args.trace))
                if cold_s is None:
                    break
        marks["setup"] = time.perf_counter()

        # warm-up iterations for WARMUP_S (at least one: the first after a
        # restart also starts new Python workers), then measured ones for
        # --seconds.  A traced run traces every other measured iteration,
        # to compare them with the untraced ones.
        k = 1
        t_phase = time.perf_counter()
        measuring = False
        while cold_s is not None and len(setup_s) == SETUPS:
            now = time.perf_counter()
            if not measuring and now - t_phase >= WARMUP_S:
                measuring, t_phase = True, now
            if measuring and len(times) >= MIN_WARM + args.trace and now - t_phase >= args.seconds:
                break
            if now - t_run >= RUN_BUDGET_S:
                break
            traced = bool(args.trace) and (not measuring or len(times) % 2 == 1)
            elapsed = iteration(k, traced)
            if elapsed is None:
                break
            if measuring:
                times.append((k, traced, elapsed))
            k += 1
        marks["loop"] = time.perf_counter()

        if ok and ok[-1]:
            problems = wl.final_check(spark, workdir)
            for p in problems:
                print(f"perfbench: final check: {p}", file=sys.stderr)
            ok[-1] = not problems
        if args.trace and ok and all(ok):
            tracer.enabled = True
            tracer.iteration = "probe"
            probes, problems = wl.probes(spark, tracer, workdir)
            for p in problems:
                print(f"perfbench: probe check: {p}", file=sys.stderr)
            ok[-1] = not problems
        marks["checks"] = time.perf_counter()
    finally:
        if spark is not None:
            stop_jvm(spark)
        sampler.stop()
        shutil.rmtree(work_root, ignore_errors=True)
    marks["stop"] = time.perf_counter()

    context = tracing.host_context(ticks)
    # wall seconds of each phase of the run, in order
    last = t_run
    context["phases_s"] = {}
    for name, t in marks.items():
        context["phases_s"][name] = round(t - last, 3)
        last = t
    attempted = max(len(ok), 1)
    failed = attempted - sum(ok)
    warm = [t for _, _, t in times]
    values: dict[str, float] = {}
    if args.trace:
        values = layer_metrics(tracer, times, probes, setup_s, cold_s, sampler)
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        tracer.write(os.path.join(
            CACHE, "traces", f"{args.workload}-s{args.seed}-{int(time.time())}.jsonl"
        ))
    elif warm:
        values = {
            "docs_per_s": wl.n_docs / statistics.median(warm),
            "setup_s": statistics.median(setup_s),
        }
    # too noisy between runs on a shared 4-core host to gate on, so they
    # are per-layer metrics; every run still prints them
    shown = {"cold_iter_s": (cold_s or 0.0, "s"), "peak_rss_mb": (sampler.peak_bytes / (1 << 20), "MB")}

    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    correct = failed == 0 and set(values) == set(units)
    report(args, manifest, wl, units, values, shown, setup_s, warm, attempted, failed, context)
    metrics = {
        name: {"value": values[name], "unit": unit}
        for name, unit in units.items() if name in values
    }
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if correct else 1


def layer_metrics(tracer, times, probes: dict, setup_s: list[float], cold_s, sampler) -> dict:
    """The per-layer ledger of a traced run: probe results, span medians
    over the traced measured iterations, Spark job/task counts of the last
    of them, and the tracing overhead."""
    from tracing import duration, self_times

    per_it = [tracer.of_iteration(f"it{k}") for k, traced, _ in times if traced]
    out: dict[str, float] = dict.fromkeys(PER_LAYER, 0)
    out.update(probes)
    for metric, span in SPAN_METRICS.items():
        vals = [duration(s) for spans in per_it for s in spans if s["name"] == span]
        if vals:
            out[metric] = statistics.median(vals)
    if out["state.checkpoint_s"]:
        out["state.publish_overhead_s"] = out["state.checkpoint_s"] - out["pipeline.extract_meta_noop_s"]
    export_vals = [
        sum(duration(s) for s in spans if s["name"].startswith("export."))
        for spans in per_it
    ]
    if any(export_vals):
        out["export.materialize_s"] = statistics.median(export_vals)
    for layer in SELF_LAYERS:
        vals = [self_times(spans).get(layer, 0.0) for spans in per_it]
        out[f"{layer}.self_s"] = statistics.median(vals) if vals else 0.0
    out["dedup.self_s"] = self_times(tracer.of_iteration("dedup")).get("dedup", 0.0)
    setups = [self_times(tracer.of_iteration(f"setup{i}")) for i in range(len(setup_s))]
    for layer in ("session", "sources"):
        out[f"{layer}.self_s"] = statistics.median(st.get(layer, 0.0) for st in setups)
    out["session.jvm_start_s"] = setup_s[0]
    out["cold_iter_s"] = cold_s or 0.0
    out["peak_rss_mb"] = sampler.peak_bytes / (1 << 20)
    out["rss.jvm_peak_mb"] = sampler.peak_root_bytes / (1 << 20)
    out["rss.workers_peak_mb"] = sampler.peak_children_bytes / (1 << 20)
    if per_it:
        last = per_it[-1]
        out["spark.jobs"] = sum(s.get("jobs", 0) for s in last)
        out["spark.tasks"] = sum(s.get("tasks", 0) for s in last)
        out["spark.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in last)
    traced = [t for _, tr, t in times if tr]
    plain = [t for _, tr, t in times if not tr]
    if traced and plain:
        out["trace.overhead_pct"] = 100.0 * (statistics.median(traced) / statistics.median(plain) - 1)
    return out


def report(args, manifest, wl, units, values, shown, setup_s, warm, attempted, failed, context) -> None:
    """Human-readable summary (stdout, before the JSON line) and a result
    file under ``.perfbench-cache/results``."""
    print(
        f"perfbench {args.workload} seed={args.seed} docs={wl.n_docs} "
        f"input={manifest['digest'][:16]} cached={manifest['cached']} trace={args.trace}"
    )
    for name, unit in units.items():
        if name in values:
            print(f"  {name:32s} {values[name]:14.4f} {unit}")
    for name, (value, unit) in shown.items():
        if name not in values:
            print(f"  {name:32s} {value:14.4f} {unit} (per-layer, not gated)")
    print(f"  {'error_rate':32s} {failed / attempted:14.4f} ratio ({failed} of {attempted} iterations)")
    print(
        f"  samples: setup=[{', '.join(f'{t:.3f}' for t in setup_s)}] "
        f"warm=[{', '.join(f'{t:.3f}' for t in warm)}]"
    )
    print("context " + json.dumps(context))
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    with open(os.path.join(
        CACHE, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    ), "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "digest": manifest["digest"], "values": values, "setup_s": setup_s,
            "shown": shown, "warm_s": warm, "attempted": attempted,
            "failed": failed, "context": context,
        }, fh)


if __name__ == "__main__":
    sys.exit(main())
