"""Engine benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload build|search|dml \\
        --seed N --seconds S --trace 0|1

Run it from the root of the repository.  The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The line before it carries the
run's context (sample counts, tail percentile, host steal and load).
Everything the run writes stays under ``.perfbench_work/`` in the
current directory; the document pool there is generated by the first
run and reused by later ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
JVM_HEAP = "2g"

END_TO_END_UNITS = {
    "items_per_s": "items/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "disk_bytes_per_input_byte": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import LAYERS

    unit = {"wall_s": "s", "jobs": "count", "stages": "count", "jvm_cpu_s": "s",
            "python_cpu_s": "s", "shuffle_write_bytes": "bytes",
            "spill_bytes": "bytes", "idle_s": "s"}
    out = {f"{l}.{c}": u for l in LAYERS for c, u in unit.items()}
    out.update({
        "index_build.write_index.bytes_written": "bytes",
        "ingest.ingest_batch.bytes_written": "bytes",
        "ingest.compact.bytes_rewritten": "bytes",
        "ingest.live_segments": "count",
        "dml.rows_rewritten_per_row_changed": "ratio",
        "score.postings_per_python_cpu_s": "postings/s",
        "compress.decode_postings_per_s": "postings/s",
        "compress.encode_postings_per_s": "postings/s",
        "session.gc_s": "s",
        "trace.overhead_frac": "fraction",
    })
    return out


def start_session(work: str):
    """local[N] with N = min(4, usable CPUs), a JVM heap that fits the
    host, and every scratch file under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # Python workers import terrier_spark and perfbench by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # No JVM perf-data file under /tmp, for the launcher JVM either.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # These would move the master or the scratch dirs off this sizing.
    for var in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_LOCAL_DIR"):
        os.environ.pop(var, None)
    from terrier_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": JVM_HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, jvm: int | None) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    are gone."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants, process_table

    kids = descendants(process_table(), jvm) if jvm else []
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in kids) and time.time() < deadline:
        time.sleep(0.1)


@contextlib.contextmanager
def session(work: str):
    """A Spark session for the block, stopped (JVM and Python workers
    gone) when it ends."""
    from perfbench.tracing import jvm_pid

    spark = start_session(work)
    jvm = None
    try:
        jvm = jvm_pid(spark)
        yield spark, jvm
    finally:
        stop_session(spark, jvm)


def run(args) -> tuple[dict, dict]:
    # Import the engine first: without it the run must fail before
    # starting anything.
    import terrier_spark.operators.index_build  # noqa: F401

    from perfbench import checks, tracing, workloads

    noise = tracing.HostNoise()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pool = workloads.pool_path(WORK_ROOT)
        ctx = workloads.Ctx(work, pool, args.seed, tracing.Tracer(None))
        wl = workloads.WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        # Inputs that need Spark are made in a session of their own, so
        # the measured session's memory and warm state are its own.
        if not os.path.isdir(pool) or wl.SPARK_INPUTS:
            with session(os.path.join(work, "inputs")) as (spark, _):
                workloads.ensure_pool(spark, pool)
                wl.prepare()
                wl.write_inputs(spark)
        else:
            wl.prepare()
        prepare_s = time.perf_counter() - t

        t = time.perf_counter()
        with session(os.path.join(work, "measured")) as (spark, jvm):
            session_s = time.perf_counter() - t
            ctx.spark = spark
            setups = [wl.setup(r) for r in range(SETUP_REPS)]
            for _ in range(wl.WARM_OPS):
                wl.step()
            wl.start_timing()
            tracer = ctx.tracer = tracing.Tracer(spark if args.trace else None)
            if args.trace:
                workloads.install_nested_spans(ctx)
            gc0 = tracing.jvm_gc_s(spark)
            tracing.reset_peak_rss(jvm)  # peak_rss_mb covers the timed ops only
            t0 = time.perf_counter()
            while True:
                wl.step()
                if (time.perf_counter() - t0 >= args.seconds
                        and len(wl.lat_ms) >= checks.MIN_SAMPLES and wl.can_stop()):
                    break
            loop_s = time.perf_counter() - t0
            peak_rss = tracing.peak_rss_mb(jvm)
            disk = wl.finish()
            finish_s = time.perf_counter() - t0 - loop_s
            if args.trace:
                workloads.tour(ctx, wl)
                metrics = layer_metrics(ctx, wl, tracer, tracing.jvm_gc_s(spark) - gc0)
            tracer.unpatch()

        context = {
            "workload": args.workload,
            "seed": args.seed,
            "prepare_s": round(prepare_s, 3),
            "loop_s": round(loop_s, 3),
            "finish_s": round(finish_s, 3),
            "ops": wl.attempted,
            "latency_samples": len(wl.lat_ms),
            "latencies_ms": [round(x, 1) for x in wl.lat_ms],
            "session_start_s": round(session_s, 3),
            "setup_reps_s": [round(s, 3) for s in setups],
            **noise.report(),
        }
        if not args.trace:
            context["tail_percentile"] = checks.TAIL_PERCENTILE
            metrics = {
                "items_per_s": wl.items / wl.busy_s,
                "latency_p50_ms": checks.median(wl.lat_ms),
                "latency_tail_ms": checks.tail(wl.lat_ms),
                "disk_bytes_per_input_byte": disk / wl.content_bytes,
                "setup_s": session_s + checks.median(setups),
                "peak_rss_mb": peak_rss,
            }
            units = END_TO_END_UNITS
        else:
            units = per_layer_units()
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
        return context, result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(ctx, wl, tracer, gc_s: float) -> dict[str, float]:
    from perfbench import workloads

    c = tracer.counters

    def per(name: str, layer: str) -> float:
        calls = tracer.calls(layer)
        return c.get(name, 0.0) / calls if calls else 0.0

    m = tracer.layer_metrics(workloads.LAYERS)
    py_topk = tracer.rows.get("score.bm25_topk", {}).get("python_cpu_s", 0.0)
    decode, encode = workloads.compress_rates(
        wl.index_dir, wl.queries[: workloads.COMPRESS_QUERIES])
    m.update({
        "index_build.write_index.bytes_written": per(
            "index_build.write_index.bytes_written", "index_build.write_index"),
        "ingest.ingest_batch.bytes_written": per(
            "ingest.ingest_batch.bytes_written", "ingest.ingest_batch"),
        "ingest.compact.bytes_rewritten": per(
            "ingest.compact.bytes_rewritten", "ingest.compact"),
        "ingest.live_segments": per(
            "ingest.open_live_index.segments", "ingest.open_live_index"),
        "dml.rows_rewritten_per_row_changed": c.get("dml.rows_rewritten", 0.0)
        / max(c.get("dml.rows_changed", 0.0), 1.0),
        "score.postings_per_python_cpu_s": c.get("score.bm25_topk.postings", 0.0) / py_topk
        if py_topk else 0.0,
        "compress.decode_postings_per_s": decode,
        "compress.encode_postings_per_s": encode,
        "session.gc_s": gc_s,
        "trace.overhead_frac": tracer.overhead_s / tracer.top_wall_s
        if tracer.top_wall_s else 0.0,
    })
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "search", "dml"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "terrier_spark")):
        print(f"perfbench: no terrier_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # A terminated run still stops Spark and removes its scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    context, result = run(args)
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
