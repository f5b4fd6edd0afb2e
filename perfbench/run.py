"""Rollup-engine benchmark: one workload, one seed, one process.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads: ``ingest`` (write path and read-back) and ``serve`` (closed-loop
reads, streaming appends and model predictions). The metric names and units
are those listed in ``BENCHMARK.json``. The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run starts Spark with an
uncompressed event log, makes the untraced measurement, runs the loop again
under span recording, and attributes the logged jobs to the spans (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def host_env(work: str) -> None:
    """Process environment for a small shared host: Python workers import the
    engine from the checkout, the driver heap stays well below host RAM and
    BLAS runs one thread per Python worker."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    mem_kb = 16 << 20
    try:
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        pass
    heap_gb = max(1, min(2, mem_kb // (1 << 20) // 4))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)


def start_session(work: str, nproc: int, event_log: str | None):
    from mpnsm_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cores=nproc, shuffle_partitions=nproc, extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is going away regardless
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, seconds: float, tracer) -> list:
    """Closed loop: start operations until ``seconds`` have elapsed and at
    least ``wl.min_ops`` have run."""
    samples = []
    t0 = time.perf_counter()
    i = 0
    while i < wl.min_ops or time.perf_counter() - t0 < seconds:
        tracer.op = i
        with tracer.span("op", index=i):
            samples += wl.step()
        i += 1
    tracer.op = None
    return samples


def metric_units(section: str) -> dict[str, str]:
    """Metric name → unit, in the order ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def run(args) -> dict:
    import tracing
    import workloads

    nproc = os.cpu_count() or 4
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host_env(work)
    log_dir = os.path.join(work, "eventlog") if args.trace else None

    t0 = time.perf_counter()
    spark = start_session(work, nproc, log_dir)
    session_s = time.perf_counter() - t0
    ctx = workloads.Ctx(spark, work, args.seed, args.scale, tracing.Tracer(False), nproc)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        wl.setup()
        setup_s = time.perf_counter() - t0

        samples = measure(wl, args.seconds, ctx.tracer)
        samples += wl.finish()
        attempted, failed = len(samples), sum(not s.ok for s in samples)
        e2e = {"setup_s": setup_s, **wl.e2e(samples)}
        units = metric_units("end_to_end")
        named = {
            **{k: (e2e[k], u) for k, u in units.items()},
            **wl.named(samples),
            "peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
            "failed_frac": (failed / attempted, "ratio"),
        }
        print(json.dumps({"workload": args.workload, "named_metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in named.items()
        }}), flush=True)
        metrics = {n: e2e[n] for n in units}

        if args.trace:
            # The same loop again, now with spans recorded; the event log was
            # on for both loops, so the overhead is that of the spans.
            tracer = tracing.Tracer(True)
            ctx.tracer = tracer
            wl.trace_setup()
            tsamples = measure(wl, args.seconds, tracer)
            tsamples += wl.finish()
            attempted += len(tsamples)
            failed += sum(not s.ok for s in tsamples)
            traced = wl.e2e(tsamples)
            app_id = spark.sparkContext.applicationId
            spark.stop()
            jobs = tracing.parse_event_log(os.path.join(log_dir, app_id))
            tracing.attribute(tracer, jobs)
            units = metric_units("per_layer")
            layers = {n: 0.0 for n in units}
            layers.update(wl.layers(tracer, jobs, tsamples))
            layers["session.start_s"] = session_s
            layers["generator.input_s"] = wl.input_s
            layers["trace.overhead_s"] = (
                traced["write_s"] + traced["read_s"] - e2e["write_s"] - e2e["read_s"]
            )
            layers["trace.spans"] = float(len(tracer.spans))
            unknown = set(layers) - set(units)
            if unknown:
                raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
            metrics = {n: layers[n] for n in units}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (1.0 = benchmark size)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mpnsm_spark", "__init__.py")):
        print("perfbench: mpnsm_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
