"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest -q perfbench/selftest.py

They start Spark sessions and take a few minutes; they are not collected by
the repository's default test run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]



def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["ingest", "serve"])
def test_tiny_smoke(workload):
    """A traced run on a tiny input prints every metric with its unit, fails
    no operation, and writes spans that nest with non-negative self time."""
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "4",
               "--trace", "1", "--scale", "0.05")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith("{")]
    named, result = lines[-2]["named_metrics"], lines[-1]
    for name, unit in _units("end_to_end").items():
        assert named[name]["unit"] == unit
        assert named[name]["value"] > 0, name
    assert named["failed_frac"]["value"] == 0
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _units("per_layer")

    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed3-spans.json")) as fh:
        spans = json.load(fh)
    by_id = {s["id"]: s for s in spans}
    assert spans
    for s in spans:
        assert s["self_s"] >= 0, s
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]


def test_refuses_without_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's files
    the command fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ------------------------------------------------------------------ tampering


@pytest.fixture(scope="module")
def ctx():
    import run
    import tracing
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run.host_env(work)
    spark = run.start_session(work, os.cpu_count() or 4, None)
    yield workloads.Ctx(spark, work, 5, 0.05, tracing.Tracer(False), os.cpu_count() or 4)
    run.stop_jvm(spark)
    shutil.rmtree(work, ignore_errors=True)


def test_tampered_ingest_reference_fails_the_operation(ctx):
    import workloads

    wl = workloads.Ingest(ctx)
    wl.setup()
    assert all(s.ok for s in wl.step())
    n, h1, h2 = wl.ref["tier_1h"]
    wl.ref["tier_1h"] = (n, h1 + 1, h2)
    assert not any(s.ok for s in wl.step())


def test_resume_after_crash_matches_cold_run(ctx):
    """A run that fails after tier_1m and the run that resumes it leave the
    same tables as one cold run, compared row for row through the public
    read helpers. This is the check the ``ingest`` workload would need to
    time the resume; the engine fails it at this commit (resumed chunk
    tables hold one (conv_id, chunk_id) in several rows), so the workload
    does not run the resume."""
    from mpnsm_spark.plans.pipeline import (
        StageFailure,
        read_chunks,
        read_gapfill,
        read_raw_retained,
        read_tier,
        run_pipeline,
    )
    from mpnsm_spark.sources.tableio import TableIO

    import workloads

    wl = workloads.Ingest(ctx)
    wl.setup()
    cfg = workloads.pipeline_config(ctx, wl.cutoff)
    cold, resumed = TableIO(wl.path("wh_cold")), TableIO(wl.path("wh_resumed"))
    run_pipeline(ctx.spark, wl.bronze, cold, cfg)
    with pytest.raises(StageFailure):
        run_pipeline(ctx.spark, wl.bronze, resumed, cfg, fail_after_stage="tier_1m")
    assert run_pipeline(ctx.spark, wl.bronze, resumed, cfg)["integrity_ok"] is True

    def tables(io) -> dict:
        s = ctx.spark
        out = {"raw_retained": read_raw_retained(s, io)}
        for t in workloads.TIERS:
            out[f"tier_{t}"] = read_tier(s, io, t)
            out[f"chunks_{t}"] = read_chunks(s, io, t)
        for t in cfg.gapfill_tiers:
            out[f"gapfill_{t}"] = read_gapfill(s, io, t)
        return {k: workloads.canon(df.collect(), sorted(df.columns)) for k, df in out.items()}

    a, b = tables(cold), tables(resumed)
    for name in a:
        assert len(b[name]) == len(a[name]), f"{name}: {len(b[name])} rows after resume, {len(a[name])} cold"
        assert b[name] == a[name], name


def test_tampered_serve_reference_fails_the_operation(ctx):
    import workloads

    wl = workloads.Serve(ctx)
    wl.setup()
    conv = wl.hot[0]
    assert wl._op("tier_read", conv).ok
    rows = wl.ref["tier_read"][conv]
    wl.ref["tier_read"][conv] = rows[1:]  # the reference loses a row
    assert not wl._op("tier_read", conv).ok
    assert wl._op("retained_read", conv).ok
