"""Point-in-time feature benchmark: one workload, one run.

    python3 perfbench/run.py --workload pit_chain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run is a closed loop
with a single client: one driver process on ``local[N]`` (N = usable cores)
runs one job at a time, on the default JIT.

1. Set-up: start the session, then generate the seeded input table and write
   it as parquet, three times; ``setup_s`` is the session start plus the
   median generation.
2. A cold pass: ``first_pass_s`` (reported, and traced as a per-layer
   number; too noisy on a shared host to carry a bound).
3. Outside any timed pass: the workload's own after-pass steps (the feature
   job's resume and read), then the correctness gate. A failed gate marks
   every pass failed and ``correct`` false.
4. Warm passes until ``--seconds`` have passed (at least three);
   ``turns_per_s`` is input turns over the median warm pass. On the default
   (C2) JIT a pass still speeds up for several passes after the cold one;
   the after-pass steps and the gate take the steepest part of that curve
   out of the window, and the median of three or more the rest of it.
   ``peak_rss_mb`` is the peak resident memory of the process tree (driver
   JVM and Python workers) over set-up and the timed passes. A full
   collection of the driver heap, untimed, ends each generation and pass.
5. The same-window compute control.

With ``--trace 1`` the warm window is halved, and then the session is
restarted twice on the same JVM: once as it was, once with Spark's event log
on, each time for a re-warming pass and another half window of passes. The
per-layer metrics come from the traced passes, the event log and the
benchmark's own spans; ``trace.overhead_frac`` is the traced median pass
over the untraced one after the same restart.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics untraced,
per-layer metrics traced). The lines before it give each metric's sample
count and quartiles.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "turns_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# first_pass_s is one cold sample per run: on a shared 4-core host its spread
# over ten runs reached 0.29 of its median, so it is reported and traced but
# carries no bound.
PER_LAYER = {
    "first_pass_s": "s",
    "session.start_s": "s",
    "datagen.gen_s": "s",
    "scan.rows": "count",
    "scan.time_ms": "ms",
    "exchange.nodes": "count",
    "exchange.bytes": "B",
    "exchange.write_ms": "ms",
    "exchange.fetch_wait_ms": "ms",
    "sort.nodes": "count",
    "sort.time_ms": "ms",
    "sort.spill_bytes": "B",
    "window.nodes": "count",
    "window.stage_ms": "ms",
    "asof.input_rows": "count",
    "asof.probe_rows": "count",
    "asof.matched_frac": "ratio",
    "salt.buckets": "count",
    "salt.carry_rows": "count",
    "stage.task_ms_max_over_p50": "ratio",
    "kernel.python_run_ms": "ms",
    "kernel.python_init_ms": "ms",
    "kernel.python_boot_ms": "ms",
    "kernel.bytes_to_python": "B",
    "kernel.bytes_from_python": "B",
    "kernel.ms_per_probe": "ms",
    "kernel.py_peak_rss_mb": "MB",
    "manifest.stage_s.turn_state": "s",
    "manifest.stage_s.probes": "s",
    "manifest.stage_s.features": "s",
    "manifest.resume_s": "s",
    "store.append_s": "s",
    "store.read_s": "s",
    "pit_read.s": "s",
    "pit_read.matched_frac": "ratio",
    "pit_read.rows_per_s": "1/s",
    "cpu.busy_frac": "ratio",
    "jvm.gc_ms": "ms",
    "trace.overhead_frac": "ratio",
    "host.control_rows_per_s": "1/s",
}
SPANS = (
    "manifest.stage_s.turn_state",
    "manifest.stage_s.probes",
    "manifest.stage_s.features",
    "manifest.resume_s",
    "store.append_s",
    "store.read_s",
    "pit_read.s",
)
SETUP_REPS = 3
MIN_WARM_PASSES = 3
DRIVER_MEMORY = "3g"


def start_session(work: str, cores: int, extra: dict[str, str] | None = None):
    from featureextraction_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # ParallelGC as bench.py uses it, on a fixed heap that is not
        # pre-touched: only the heap pages the run uses are resident, so more
        # live data shows in peak_rss_mb. The JIT is the default one.
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms{DRIVER_MEMORY} "
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        **(extra or {}),
    }
    return get_spark("perfbench", parallelism=cores, extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until both ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def report(name: str, unit: str, values: list[float]) -> None:
    q1, med, q3 = quartiles(values)
    print(f"perfbench metric {name} unit={unit} n={len(values)} median={med:.6g} q1={q1:.6g} q3={q3:.6g}")


def full_gc(spark) -> None:
    """A full collection of the driver JVM's heap, between the steps of a
    run. Each step then starts from the live set alone, so the heap's
    high-water mark, and with it peak_rss_mb, is that of the largest step
    rather than of garbage that happened to pile up across steps before
    the collector ran."""
    spark.sparkContext._jvm.System.gc()


def timed_passes(ctx, workload, first: int, seconds: float, minimum: int) -> list[float]:
    walls = []
    deadline = time.perf_counter() + seconds
    while len(walls) < minimum or time.perf_counter() < deadline:
        full_gc(ctx.spark)
        t0 = time.perf_counter()
        workload.run_pass(ctx, first + len(walls))
        walls.append(time.perf_counter() - t0)
    return walls


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import datagen
    import eventlog
    import hostprobe
    from workloads import WORKLOADS, Context

    workload = WORKLOADS[name]
    cores = hostprobe.cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    input_path = os.path.join(work, "input")
    isolate(work)
    phases = hostprobe.Spans()  # wall time of each step of the run
    sampler = hostprobe.RssSampler()
    sampler.start()
    ticks = hostprobe.cpu_ticks()
    spark = None
    try:
        with phases.span("session"):
            spark = start_session(work, cores)
        for _ in range(SETUP_REPS):
            with phases.span("datagen"):
                table = datagen.transcripts(spark, workload.shape, seed)
                table.df.write.mode("overwrite").parquet(input_path)
            full_gc(spark)
        ctx = Context(spark, input_path, work, seed, table.sizes, detail=trace)
        with phases.span("cold"):
            workload.run_pass(ctx, 0)
        full_gc(spark)
        ctx.spans = hostprobe.Spans()  # per-layer spans leave the cold pass out
        sampler.stop()
        if workload.after_passes is not None:
            with phases.span("after"):
                workload.after_passes(ctx)
        with phases.span("gate"):
            problems, counts = workload.gate(ctx)
        sampler.start()
        warm = timed_passes(ctx, workload, 1, seconds / 2 if trace else seconds,
                            MIN_WARM_PASSES)
        sampler.stop()
        attempted = 1 + len(warm)
        with phases.span("control"):
            control = hostprobe.control_rows_per_s(spark)

        traced: list[float] = []
        if trace:
            # Untraced and traced passes each follow a session restart on the
            # same JVM, so both see the same JIT state.
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            for conf in ({}, eventlog.trace_conf(log_dir)):
                spark.stop()
                spark = start_session(work, cores, conf)
                ctx.spark = spark
                sc = spark.sparkContext
                sc.setLocalProperty(eventlog.PHASE_PROPERTY, "rewarm")
                workload.run_pass(ctx, attempted)
                sc.setLocalProperty(eventlog.PHASE_PROPERTY, "warm")
                passes = timed_passes(ctx, workload, attempted + 1, seconds / 2, 2)
                attempted += 1 + len(passes)
                baseline, traced = traced, passes
        with phases.span("stop"):
            stop_jvm(spark)
        spark = None
        if trace:
            (log_file,) = os.listdir(log_dir)
            layers = layer_metrics(eventlog.read(os.path.join(log_dir, log_file)), ctx.spans,
                                   counts, traced, cores)
    finally:
        sampler.stop()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    stolen, total = (b - a for a, b in zip(ticks, hostprobe.cpu_ticks()))
    session_s = phases.seconds["session"][0]
    gen_s = phases.seconds["datagen"]
    print("perfbench input " + json.dumps({**table.report(), **counts, "cores": cores, "seed": seed}))
    print("perfbench phases_s " + json.dumps({k: [round(x, 3) for x in v] for k, v in phases.seconds.items()}))
    print("perfbench spans_s " + json.dumps({k: [round(x, 3) for x in v] for k, v in ctx.spans.seconds.items()}))
    print(f"perfbench warm_s {[round(w, 3) for w in warm]}")
    print(f"perfbench passes cold=1 warm={len(warm)} traced={len(traced)} "
          f"control_rows_per_s={control:.6g} host_steal_frac={stolen / max(total, 1):.3f}")
    for p in problems:
        print(f"perfbench gate FAILED {p}")
    samples = {
        "turns_per_s": [sum(table.sizes) / w for w in warm],
        "first_pass_s": phases.seconds["cold"],
        "setup_s": [session_s + g for g in gen_s],
        "peak_rss_mb": [sampler.peak_mb],
    }
    for k, v in samples.items():
        report(k, END_TO_END.get(k) or PER_LAYER[k], v)
    if trace:
        layers.update({
            "first_pass_s": samples["first_pass_s"][0],
            "session.start_s": session_s,
            "datagen.gen_s": statistics.median(gen_s),
            "trace.overhead_frac": statistics.median(traced) / statistics.median(baseline) - 1,
            "host.control_rows_per_s": control,
        })
        if counts.get("features.probe_rows"):
            layers["kernel.py_peak_rss_mb"] = sampler.peak_workers_mb
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(statistics.median(samples[k])), "unit": u}
                   for k, u in END_TO_END.items()}
    correct = not problems
    return {"correct": correct, "attempted": attempted, "failed": 0 if correct else attempted,
            "metrics": metrics}


def layer_metrics(log, spans, counts: dict, traced: list[float], cores: int) -> dict[str, float]:
    """Per-layer numbers of the traced passes: the event log's engine
    layers, the benchmark's spans around library calls, the gate's counts."""
    import eventlog

    layers = eventlog.layer_metrics(log, "warm", len(traced))
    cpu_s = layers.pop("executor.cpu_s")
    layers["cpu.busy_frac"] = cpu_s / (statistics.mean(traced) * cores)
    for name in SPANS:
        layers[name] = spans.median(name)
    layers.update({k: v for k, v in counts.items() if k in PER_LAYER})
    if counts.get("features.probe_rows"):
        layers["kernel.ms_per_probe"] = layers["kernel.python_run_ms"] / counts["features.probe_rows"]
    if layers["pit_read.s"]:
        layers["pit_read.rows_per_s"] = counts["asof.probe_rows"] / layers["pit_read.s"]
    return layers


def isolate(work: str) -> None:
    """Keep every file the run and its JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "featureextraction_spark")):
        print(f"perfbench: no featureextraction_spark package under {ROOT}", file=sys.stderr)
        return 2
    # This process imports the package from the checkout; so must the Python
    # workers the JVM forks, whatever their working directory.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
